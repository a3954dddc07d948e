"""End-to-end tiered deduplication pipeline (SURVEY.md §2.7-2.8, §3.3).

Dataflow (mirrors the reference find_duplicates_with_sources at
src/dedupe.rs:403-500, re-expressed as one Spark path):

  features (M3/N1-N5)           one Arrow pass through ``feature_batch``
  -> candidates (C1-C5, C7)     every tier key fused into one bucket key,
                                one collect_list pair expansion
  -> verify (M4-M8)             SQL field matches + jaro/jw pandas UDF
  -> connected components (C6)  partition-local union-find
  -> elect representative (M10) one window
  -> emit (rid, cluster_id, is_unique, source)

Both entry points run the same feature kernel and everything after it
(``dedupe_features``). ``dedupe_corpus`` feeds the kernel citations parsed
straight from the payload bytes and pins the feature table with a parquet
spill; ``dedupe_records`` feeds it RECORD_COLS rows (the staged, resumable
pipeline's input) and pins it with a localCheckpoint.

Scale notes: the only O(n²) surface is within candidate buckets, which are
capped (C7 star policy); everything else is equi-join + window. Features are
materialized once and reused by candidates/verify/election (preprocess-once,
dedupe.rs:566-590).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from biblib_spark.functions.minhash import _perm_params, lsh_keys_batch
from biblib_spark.functions.simhash import simhash64
from biblib_spark.kernels.norm import (
    format_issn,
    format_journal_name,
    normalize_title,
    normalize_volume,
)
from biblib_spark.operators.candidates import candidate_pairs
from biblib_spark.operators.components import assign_clusters
from biblib_spark.operators.election import elect_representatives
from biblib_spark.operators.verify import verify_pairs


@dataclass
class DedupConfig:
    """Shingle/signature config is explicit: the correctness gate requires
    identical configs between runs (BASELINE.json north_rule). Every field
    tunes the one feature kernel and the one candidate/verify path; only
    ``salted_pairs`` swaps a plan (for extreme bucket skew)."""

    group_by_year: bool = True  # M1; default matches Deduplicator::new
    source_preferences: list[str] = field(default_factory=list)
    shingle_k: int = 4
    num_perm: int = 64
    bands: int = 16
    minhash_seed: int = 1815
    max_bucket: int = 64  # C7 star-policy cap per candidate bucket
    # C7 salted pair generation: identical pairs, but no task ever holds a
    # whole bucket (salted size/min aggregation + streamed star join). Costs
    # one extra combinable shuffle — turn on when buckets can exceed ~10^6
    # members (boilerplate titles at 10^12-row scale); AQE handles the rest
    # locally, so the default favors the single-shuffle path
    salted_pairs: bool = False
    # C1 pmid/accession identity tiers (DOI is always on). Separately
    # switchable so recall harnesses can prove the SIMILARITY tiers'
    # coverage without registry-identifier shortcuts
    pmid_accession_tiers: bool = True
    simhash_enabled: bool = True
    simhash_max_title: int = 24
    # C4 containment: candidate admission on the first/last prefix_len chars
    # of norm_title, plus a substring verify arm for pairs whose jaro falls
    # below the reference thresholds (truncated/decorated titles)
    prefix_tier: bool = True
    suffix_tier: bool = True
    prefix_len: int = 24
    containment_verify: bool = True
    containment_min_len: int = 20


# columns dedupe_records expects on its input; pmid / accession_number are
# optional (filled with NULL when absent) — they only feed the C1 identity tier
RECORD_COLS = [
    "rid",
    "source",
    "title",
    "journal",
    "journal_abbr",
    "volume",
    "pages",
    "issn",
    "doi",
    "pmid",
    "accession_number",
    "year",
    "abstract_text",
]

# the feature table both entry points produce; the candidate tiers, verify
# and election read only these columns
FEATURE_SCHEMA = StructType(
    [
        StructField("rid", LongType(), False),
        StructField("source", StringType()),
        StructField("doi", StringType()),
        StructField("pmid", StringType()),
        StructField("accession_number", StringType()),
        StructField("year", IntegerType()),
        StructField("pages", StringType()),
        StructField("abstract_text", StringType()),
        StructField("norm_title", StringType()),
        StructField("norm_journal", StringType()),
        StructField("norm_journal_abbr", StringType()),
        StructField("norm_volume", StringType()),
        StructField("norm_issn", ArrayType(StringType())),
        StructField("year_key", IntegerType(), False),
        StructField("lsh_keys", ArrayType(LongType())),
        StructField("simhash_keys", ArrayType(LongType())),
    ]
)
_ARROW_FEATURE_SCHEMA = to_arrow_schema(FEATURE_SCHEMA)

# citation dict keys copied into RECORD_COLS unchanged (rid, source and year
# are derived per payload)
_CITATION_FIELDS = [c for c in RECORD_COLS if c not in ("rid", "source", "year")]


def feature_batch(raw: dict[str, list], cfg: DedupConfig) -> pa.RecordBatch:
    """RECORD_COLS value lists -> one FEATURE_SCHEMA batch: M3 + N1-N5 +
    year_key + LSH/SimHash keys, the one feature kernel of both entry points.

    Column-wise over plain Python lists, straight into pyarrow arrays — no
    pandas Series layer between the kernels and the Arrow stream (measured
    on a pandas version: ~20 us/record of DataFrame construction +
    conversion the kernels never needed). MinHash runs over
    the whole batch at once (one segmented broadcast instead of one numpy
    round-trip per record). ``abstract_text`` is reduced to a one-char
    presence marker — the election cascade only tests presence
    (dedupe.rs:513-530).
    """
    k = cfg.shingle_k
    titles = [normalize_title(t or "") or "" for t in raw["title"]]

    def journal(j):
        return format_journal_name(j) if j is not None else None

    def simhash_keys(t):
        if not cfg.simhash_enabled or not t or len(t) > cfg.simhash_max_title:
            return []
        h = simhash64(t, k)
        return [(q << 16 | ((h >> (16 * q)) & 0xFFFF)) for q in range(4)]

    a, b = _perm_params(cfg.num_perm, cfg.minhash_seed)
    years = raw["year"]
    cols = {
        "rid": raw["rid"],
        "source": raw["source"],
        "doi": raw["doi"],
        "pmid": raw["pmid"],
        "accession_number": raw["accession_number"],
        "year": years,
        "pages": raw["pages"],
        "abstract_text": [
            "x" if t is not None else None for t in raw["abstract_text"]
        ],
        "norm_title": titles,
        "norm_journal": [journal(j) for j in raw["journal"]],
        "norm_journal_abbr": [journal(j) for j in raw["journal_abbr"]],
        "norm_volume": [
            normalize_volume(v) if v is not None else "" for v in raw["volume"]
        ],
        "norm_issn": [
            [f for f in map(format_issn, issns or ()) if f is not None]
            for issns in raw["issn"]
        ],
        "year_key": (
            [y or 0 for y in years] if cfg.group_by_year else [0] * len(years)
        ),
        "lsh_keys": lsh_keys_batch(titles, k, a, b, cfg.bands),
        "simhash_keys": [simhash_keys(t) for t in titles],
    }
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[f.name], type=f.type) for f in _ARROW_FEATURE_SCHEMA],
        schema=_ARROW_FEATURE_SCHEMA,
    )


def dedupe_features(feat: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """Materialized features -> (rid, cluster_id, is_unique, source)."""
    cfg = cfg or DedupConfig()
    dup_edges = verify_pairs(
        candidate_pairs(feat, cfg),
        feat,
        containment=cfg.containment_verify,
        containment_min_len=cfg.containment_min_len,
    )
    clustered = assign_clusters(feat.select("rid"), dup_edges)
    enriched = clustered.join(
        feat.select("rid", "source", "abstract_text", "doi"), "rid"
    )
    elected = elect_representatives(enriched, cfg.source_preferences)
    return elected.select("rid", "cluster_id", "is_unique", "source")


def features_from_records(
    records: DataFrame, cfg: DedupConfig | None = None
) -> DataFrame:
    """(RECORD_COLS) -> the feature table, one mapInArrow over
    ``feature_batch``. Each record keeps its own rid and ``source``."""
    cfg = cfg or DedupConfig()
    for opt in ("pmid", "accession_number"):
        if opt not in records.columns:
            records = records.withColumn(opt, F.lit(None).cast("string"))

    def _fn(batches):
        for batch in batches:
            yield feature_batch(batch.to_pydict(), cfg)

    return records.select(*RECORD_COLS).mapInArrow(_fn, FEATURE_SCHEMA)


def dedupe_records(records: DataFrame, cfg: DedupConfig | None = None) -> DataFrame:
    """(RECORD_COLS) -> (rid, cluster_id, is_unique, source).

    Matches reference cluster semantics with dup-pair recall 1.0 relative to
    the predicate over generated candidates (see tests/reference_impl.py for
    the fixture oracle).
    """
    cfg = cfg or DedupConfig()
    # EAGERLY materialized once: the candidate tiers fan out into several
    # concurrent branches of one job, and a lazy cache would be racily
    # recomputed by each branch (normalize + MinHash per branch).
    feat = features_from_records(records, cfg).localCheckpoint(eager=True)
    return dedupe_features(feat, cfg)


def features_from_corpus(
    corpus: DataFrame,
    cfg: DedupConfig | None = None,
    record_idx_bits: int = 20,
    source_col: str | None = None,
) -> DataFrame:
    """Fused fast path: corpus -> dedup features in ONE mapInArrow.

    Parse + flatten + ``feature_batch`` in a single Python pass — one
    JVM<->Python Arrow round-trip instead of two, and only the feature
    columns the matcher reads (never the full citation struct with its
    array/map fields). rid = row_id << record_idx_bits | record_idx, as in
    ``records_from_parsed``.

    ``source_col`` (M12 sources-zip): name of a corpus column carrying the
    per-payload source register (e.g. the registry feed a payload came from);
    every citation of a payload inherits it, mirroring the reference's
    parallel sources slice (src/dedupe.rs:403-434). When None, the detected
    format stands in.
    """
    cfg = cfg or DedupConfig()
    shift = 1 << record_idx_bits
    in_cols = ["row_id", "content"] + ([source_col] if source_col else [])

    def _fn(batches):
        from biblib_spark.kernels import detect
        from biblib_spark.sources.parse import PARSERS

        for batch in batches:
            inp = batch.to_pydict()
            sources = inp[source_col] if source_col else inp["row_id"]
            rids: list[int] = []
            srcs: list = []
            cits: list[dict] = []
            for row_id, content, src in zip(inp["row_id"], inp["content"], sources):
                text = content if isinstance(content, str) else ""
                fmt = detect.detect_format(text)
                parser = PARSERS.get(fmt)
                if parser is None:
                    continue
                citations, _errors = parser(text)
                base = int(row_id) * shift
                rids.extend(range(base, base + len(citations)))
                srcs.extend([src if source_col else fmt] * len(citations))
                cits.extend(citations)
            raw = {f: [c[f] for c in cits] for f in _CITATION_FIELDS}
            raw["rid"] = rids
            raw["source"] = srcs
            raw["year"] = [c["date"]["year"] if c["date"] else None for c in cits]
            yield feature_batch(raw, cfg)

    return corpus.select(*in_cols).mapInArrow(_fn, FEATURE_SCHEMA)


def dedupe_corpus(
    corpus: DataFrame,
    cfg: DedupConfig | None = None,
    source_col: str | None = None,
) -> DataFrame:
    """Corpus table -> clusters via the fused fast path.

    The feature table fans out (the candidate key scan, two verify sides,
    the election join), so it is pinned as a columnar spill on the
    shuffle-local dir (plans/spill.py): each consumer prunes to the columns
    it reads (the key scan reads 8 of 16, the election join 4), where a
    checkpoint hands every branch every column.
    """
    from biblib_spark.plans.spill import spill_to_parquet

    cfg = cfg or DedupConfig()
    feat, _ = spill_to_parquet(
        features_from_corpus(corpus, cfg, source_col=source_col), "dedup-features"
    )
    return dedupe_features(feat, cfg)


def records_from_parsed(
    parsed: DataFrame,
    record_idx_bits: int = 20,
    source_col: str | None = None,
) -> DataFrame:
    """Adapt parse output (PARSED_SCHEMA) to dedup input.

    rid = row_id << record_idx_bits | record_idx keeps the reference's input
    order (payload order, then record order within the payload) so election
    tie-breaks match. Requires record_idx < 2^record_idx_bits; at 10^12 rows
    switch rid to a 128-bit (two-long) key. ``source_col`` (M12): column on
    ``parsed`` carrying the per-payload source register.
    """
    c = F.col("citation")
    src = (
        F.col(source_col).cast("string")
        if source_col is not None
        else F.lit(None).cast("string")
    )
    return parsed.select(
        (F.col("row_id") * (1 << record_idx_bits) + F.col("record_idx")).alias("rid"),
        src.alias("source"),
        c["title"].alias("title"),
        c["journal"].alias("journal"),
        c["journal_abbr"].alias("journal_abbr"),
        c["volume"].alias("volume"),
        c["pages"].alias("pages"),
        c["issn"].alias("issn"),
        c["doi"].alias("doi"),
        c["pmid"].alias("pmid"),
        c["accession_number"].alias("accession_number"),
        c["date"]["year"].alias("year"),
        c["abstract_text"].alias("abstract_text"),
    )
