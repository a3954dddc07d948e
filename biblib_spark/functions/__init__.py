"""Signature kernels: MinHash (LSH band keys) and SimHash."""
