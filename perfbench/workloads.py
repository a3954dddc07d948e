"""The benchmark's workloads: input generation with planted truth, the timed
request through the library's public entry point, the checkpointed pipeline
that resumes, and the traced run that times each layer at a materialization
boundary.

Inputs come from the library's own deterministic generators
(``corpus.payload_text`` and ``codecorpus.clone_text``, the pure functions
behind ``make_corpus`` / ``make_code_corpus``), run in the driver so that no
Spark work happens before the session set-up is timed.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from spans import sum_stats
from stats import ratio

RECORD_IDX_BITS = 20  # rid = row_id << 20 | record index (dedupe.records_from_parsed)
RECORDS_PER_PAYLOAD = 6  # make_corpus default
INPUT_FILES = 8  # scan tasks per input: two per core on the reference host


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _write_input(rows: dict[str, list], path: str) -> None:
    table = pa.table(rows)
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // INPUT_FILES)
    for i in range(INPUT_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))


def _commit(tag: str) -> str:
    return hashlib.sha256(tag.encode()).hexdigest()[:40]


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _median_time(fn, repeats: int = 5) -> float:
    return float(np.median([timed(fn)[0] for _ in range(repeats)]))


def span_s(tracer, name: str) -> float:
    s = tracer.by_name(name)
    return s["end"] - s["start"]


def span_spark(tracer, groups: dict, name: str) -> dict:
    """Spark counters of the named span and its children."""
    return sum_stats(groups, [s["id"] for s in tracer.subtree(tracer.by_name(name))])


class CiteFlagship:
    """Uniform RIS + PubMed corpus through ``dedupe_corpus``."""

    name = "cite_flagship"
    out_cols = ["rid", "cluster_id", "is_unique"]
    needs_window = True

    def __init__(self, payloads: int):
        self.payloads = payloads

    def make_input(self, path: str, seed: int) -> dict:
        from biblib_spark.corpus import SLOTS_PER_WORK, n_variants, payload_format, payload_text

        rows: dict[str, list] = {k: [] for k in ("row_id", "repo", "path", "commit", "lang", "content")}
        truth: dict[int, int] = {}
        for p in range(self.payloads):
            fmt = payload_format(p)
            ext = "ris" if fmt == "RIS" else "nbib"
            content = payload_text(p, RECORDS_PER_PAYLOAD, seed)
            rows["row_id"].append(p)
            rows["repo"].append(f"org{p % 97}/src{p % 1009}")
            rows["path"].append(f"refs/{ext}/{p}.{ext}")
            rows["commit"].append(_commit(f"c{seed}-{p}"))
            rows["lang"].append(fmt)
            rows["content"].append(content)
            truth.update(cite_truth(p, seed, n_variants, SLOTS_PER_WORK))
        _write_input(rows, path)
        return {
            "path": path,
            "truth": truth,
            "content_bytes": sum(len(c.encode()) for c in rows["content"]),
            "contents": rows["content"],
        }

    def request(self, spark, corpus):
        from biblib_spark.operators.dedupe import dedupe_corpus

        return dedupe_corpus(corpus).select(*self.out_cols)

    def checkpointed(self, spark, corpus, work_dir: str):
        from biblib_spark.plans.pipeline import run_pipeline

        return run_pipeline(spark, corpus, work_dir).select(*self.out_cols)

    def traced(self, spark, corpus, tracer, inp: dict, resume_dir: str, work_dir: str):
        """One request decomposed into its layers, each forced to complete at
        its boundary; then the kernels in-process and the checkpointed
        stages. Returns (output table, per-layer counts)."""
        from pyspark.sql import functions as F

        from biblib_spark.operators.candidates import candidate_pairs, flat_candidate_keys
        from biblib_spark.operators.components import assign_clusters
        from biblib_spark.operators.dedupe import (
            DedupConfig,
            dedupe_records,
            features_from_corpus,
            records_from_parsed,
        )
        from biblib_spark.operators.election import elect_representatives
        from biblib_spark.operators.verify import verify_pairs
        from biblib_spark.plans.checkpoint import run_stage
        from biblib_spark.plans.pipeline import run_pipeline
        from biblib_spark.plans.spill import spill_to_parquet
        from biblib_spark.sources.parse import parse_with_diagnostics, split_diagnostics

        cfg = DedupConfig()
        c: dict = {}
        with tracer.span("request"):
            with tracer.span("features"):
                feat, spill_path = spill_to_parquet(features_from_corpus(corpus, cfg), "perfbench-features")
            with tracer.span("candidates"):
                pairs = candidate_pairs(feat, cfg).localCheckpoint(eager=True)
            with tracer.span("verify"):
                edges = verify_pairs(
                    pairs,
                    feat,
                    containment=cfg.containment_verify,
                    containment_min_len=cfg.containment_min_len,
                ).localCheckpoint(eager=True)
            with tracer.span("components"):
                clustered = assign_clusters(feat.select("rid"), edges).localCheckpoint(eager=True)
            with tracer.span("election"):
                enriched = clustered.join(feat.select("rid", "source", "abstract_text", "doi"), "rid")
                out = elect_representatives(enriched, cfg.source_preferences).select(*self.out_cols).toArrow()

        # boundary counts, outside the spans
        c["features.records"] = feat.count()
        c["features.spill_bytes"] = dir_bytes(spill_path)
        keyed = flat_candidate_keys(feat, cfg)
        c["candidates.keyed_rows"] = keyed.count()
        c["candidates.oversize_buckets"] = (
            keyed.groupBy("year_key", "bkey").count().filter(F.col("count") > cfg.max_bucket).count()
        )
        c["candidates.pairs"] = pairs.count()
        c["verify.edges"] = edges.count()
        sample = (
            pairs.limit(2000)
            .join(feat.select(F.col("rid").alias("a"), F.col("norm_title").alias("ta")), "a")
            .join(feat.select(F.col("rid").alias("b"), F.col("norm_title").alias("tb")), "b")
            .select("ta", "tb")
            .collect()
        )
        c.update(self._kernels(inp["contents"][:200], [r["ta"] or "" for r in sample], [r["tb"] or "" for r in sample], cfg))

        # the checkpointed path's stages, as run_pipeline lays them out
        stage_dir = os.path.join(work_dir, "traced-pipeline")
        with tracer.span("parse"):
            diag = run_stage(spark, os.path.join(stage_dir, "diagnostics"), lambda: parse_with_diagnostics(corpus))
        parsed, quarantine = split_diagnostics(diag)
        with tracer.span("dedupe_records"):
            staged = run_stage(
                spark, os.path.join(stage_dir, "clusters"), lambda: dedupe_records(records_from_parsed(parsed), cfg)
            )
        c["parse.quarantine_rows"] = quarantine.count()
        c["checkpoint.bytes_written"] = dir_bytes(resume_dir)
        c["staged_output"] = staged.select(*self.out_cols).toArrow()
        with tracer.span("resume"):
            c["resumed_output"] = run_pipeline(spark, corpus, resume_dir).select(*self.out_cols).toArrow()
        return out, c

    @staticmethod
    def _kernels(contents: list[str], ta: list[str], tb: list[str], cfg) -> dict:
        """Per-record cost of the pure-Python kernels on a fixed sample of the
        workload's own payloads (median of five passes). SimHash is timed on
        every title, although the pipeline skips titles longer than
        ``simhash_max_title``, so that a kernel change shows."""
        from biblib_spark.functions.minhash import _perm_params, lsh_keys_batch
        from biblib_spark.functions.simhash import simhash64
        from biblib_spark.kernels import detect
        from biblib_spark.kernels.norm import format_issn, format_journal_name, normalize_title, normalize_volume
        from biblib_spark.kernels.similarity import jaro_batch
        from biblib_spark.sources.parse import PARSERS

        def parse_all():
            return [c for text in contents for c in PARSERS[detect.detect_format(text)](text)[0]]

        cits = parse_all()

        def normalize_all():
            out = []
            for c in cits:
                out.append(normalize_title(c["title"] or "") or "")
                if c["journal"] is not None:
                    format_journal_name(c["journal"])
                if c["journal_abbr"] is not None:
                    format_journal_name(c["journal_abbr"])
                if c["volume"] is not None:
                    normalize_volume(c["volume"])
                [format_issn(v) for v in c["issn"] or []]
            return out

        titles = normalize_all()
        a, b = _perm_params(cfg.num_perm, cfg.minhash_seed)
        n = len(cits)
        return {
            "kernels.parse_us_per_record": 1e6 * _median_time(parse_all) / n,
            "kernels.normalize_us_per_record": 1e6 * _median_time(normalize_all) / n,
            "functions.minhash_us_per_record": 1e6
            * _median_time(lambda: lsh_keys_batch(titles, cfg.shingle_k, a, b, cfg.bands))
            / n,
            "functions.simhash_us_per_record": 1e6
            * _median_time(lambda: [simhash64(t, cfg.shingle_k) for t in titles if t])
            / n,
            "kernels.jaro_us_per_pair": 1e6 * _median_time(lambda: jaro_batch(ta, tb)) / max(len(ta), 1),
        }

    def layer_metrics(self, tracer, groups: dict, c: dict, content_bytes: int) -> dict:
        def jobs(name):
            return span_spark(tracer, groups, name)

        def span(name):
            return span_s(tracer, name)

        m = {
            "features.s": span("features"),
            "features.records": c["features.records"],
            "features.spill_bytes": c["features.spill_bytes"],
            "features.jobs": jobs("features")["jobs"],
            "candidates.s": span("candidates"),
            "candidates.keyed_rows": c["candidates.keyed_rows"],
            "candidates.oversize_buckets": c["candidates.oversize_buckets"],
            "candidates.pairs": c["candidates.pairs"],
            "candidates.pairs_per_record": ratio(c["candidates.pairs"], c["features.records"]),
            "candidates.shuffle_bytes": jobs("candidates")["shuffle_write_bytes"],
            "candidates.jobs": jobs("candidates")["jobs"],
            "verify.s": span("verify"),
            "verify.pairs_in": c["candidates.pairs"],
            "verify.edges": c["verify.edges"],
            "verify.yield": ratio(c["verify.edges"], c["candidates.pairs"]),
            "verify.shuffle_bytes": jobs("verify")["shuffle_write_bytes"],
            "verify.jobs": jobs("verify")["jobs"],
            "components.s": span("components"),
            "components.jobs": jobs("components")["jobs"],
            "election.s": span("election"),
            "election.jobs": jobs("election")["jobs"],
            "parse.s": span("parse"),
            "parse.quarantine_rows": c["parse.quarantine_rows"],
            "dedupe_records.s": span("dedupe_records"),
            "checkpoint.bytes_written": c["checkpoint.bytes_written"],
            "checkpoint.write_amp": ratio(c["checkpoint.bytes_written"], content_bytes),
            "resume.jobs": jobs("resume")["jobs"],
        }
        m.update({k: v for k, v in c.items() if k.startswith(("kernels.", "functions."))})
        return m


def cite_truth(p: int, seed: int, n_variants, slots_per_work: int) -> dict[int, int]:
    """rid -> planted work id for the records of payload ``p``: the payload
    holds the existing slots of its slot range in order (corpus.payload_text),
    and slot ``s`` is variant ``s % 4`` of work ``s // 4``."""
    out, idx = {}, 0
    for slot in range(p * RECORDS_PER_PAYLOAD, (p + 1) * RECORDS_PER_PAYLOAD):
        w, k = divmod(slot, slots_per_work)
        if k < n_variants(w, seed):
            out[(p << RECORD_IDX_BITS) + idx] = w
            idx += 1
    return out


class CodeClones:
    """Planted clone corpus through ``code_dup_clusters``."""

    name = "code_clones"
    out_cols = ["row_id", "cluster_id", "cluster_size"]
    needs_window = False

    def __init__(self, origins: int):
        self.origins = origins

    def make_input(self, path: str, seed: int) -> dict:
        from biblib_spark.codecorpus import SLOTS_PER_ORIGIN, clone_text, slot_exists, truth_label

        rows: dict[str, list] = {k: [] for k in ("row_id", "repo", "path", "commit", "lang", "content")}
        truth: dict[int, str] = {}
        for rid in range(self.origins * SLOTS_PER_ORIGIN):
            if not slot_exists(rid, seed):
                continue
            o, k = divmod(rid, SLOTS_PER_ORIGIN)
            lang, content = clone_text(o, k, seed)
            rows["row_id"].append(rid)
            rows["repo"].append(f"org{o % 57}/repo{o % 503}")
            rows["path"].append(f"src/o{o}/f{rid}.{lang}")
            rows["commit"].append(_commit(f"cc{seed}-{rid}"))
            rows["lang"].append(lang)
            rows["content"].append(content)
            truth[rid] = truth_label(rid, seed)
        _write_input(rows, path)
        return {
            "path": path,
            "truth": truth,
            "content_bytes": sum(len(c.encode()) for c in rows["content"]),
            "contents": rows["content"],
        }

    def request(self, spark, corpus):
        from biblib_spark.operators.codedup import code_dup_clusters

        return code_dup_clusters(corpus).select(*self.out_cols)

    def checkpointed(self, spark, corpus, work_dir: str):
        from biblib_spark.plans.code_pipeline import run_code_pipeline

        return run_code_pipeline(spark, corpus, work_dir).select(*self.out_cols)

    def traced(self, spark, corpus, tracer, inp: dict, resume_dir: str, work_dir: str):
        from biblib_spark.operators.codedup import clusters_from_edges, code_dup_edges, code_features
        from biblib_spark.plans.code_pipeline import run_code_pipeline
        from biblib_spark.plans.spill import spill_to_parquet

        c: dict = {}
        with tracer.span("request"):
            with tracer.span("codedup.features"):
                # code_dup_clusters spills the features without ctoks
                feat, _ = spill_to_parquet(code_features(corpus).drop("ctoks"), "perfbench-code-features")
            with tracer.span("codedup.edges"):
                edges = code_dup_edges(feat).localCheckpoint(eager=True)
            with tracer.span("components"):
                out = clusters_from_edges(feat, edges).select(*self.out_cols).toArrow()
        c["codedup.edges"] = edges.count()
        c["checkpoint.bytes_written"] = dir_bytes(resume_dir)
        with tracer.span("resume"):
            c["resumed_output"] = run_code_pipeline(spark, corpus, resume_dir).select(*self.out_cols).toArrow()
        return out, c

    def layer_metrics(self, tracer, groups: dict, c: dict, content_bytes: int) -> dict:
        def jobs(name):
            return span_spark(tracer, groups, name)["jobs"]

        def span(name):
            return span_s(tracer, name)

        return {
            "codedup.features_s": span("codedup.features"),
            "codedup.edges_s": span("codedup.edges"),
            "codedup.edges": c["codedup.edges"],
            "codedup.jobs": jobs("codedup.features") + jobs("codedup.edges"),
            "components.s": span("components"),
            "components.jobs": jobs("components"),
            "checkpoint.bytes_written": c["checkpoint.bytes_written"],
            "checkpoint.write_amp": ratio(c["checkpoint.bytes_written"], content_bytes),
            "resume.jobs": jobs("resume"),
        }
