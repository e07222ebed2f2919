"""Deterministic, engine-portable hashing helpers.

- ``doc_id_expr``: stable 64-bit doc ids from natural keys via xxhash64,
  replacing the reference's uuid4 PKs (reference: app/db/models.py:73-74)
  which are non-deterministic and would break rank-identity and resumable
  merges under parallelism (SURVEY.md §7.4.3).
- ``content_sha256``: the per-row content-fidelity invariant
  (BASELINE.json input_hint), replacing the reference's salted md5 dedup
  key (reference: app/services/__init__.py:1-17).
- ``seed_xor_constant``: the MinHash hash family
  (``operators.dedup.minhash_signatures_docs``). Each shingle is
  md5-hashed ONCE into a 60-bit integer; the per-seed permutations are
  XORs with md5-derived seed constants — bijections on the hash space,
  so ``min(h(s) XOR k_seed)`` is a valid MinHash component (the xor
  family is the standard cheap-permutation choice in production LSH;
  xxhash-style seeded rehash costs another full hash per seed for no
  extra independence in practice). An earlier form computed
  ``md5(seed || shingle)`` per seed — 8 full md5 passes over every
  shingle; at 10^12 documents the signature stage IS the md5 cost, so
  hash-once matters. Everything stays bit-identical between the Spark
  kernel, DuckDB and Python (md5 + integer xor), keeping the
  signatures oracle-checkable.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def doc_id_expr(*natural_key_cols: str | Column) -> Column:
    """64-bit deterministic doc id from natural keys (e.g. repo,path,commit)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in natural_key_cols]
    return F.xxhash64(*cols)


def content_sha256(content_col: str | Column = "content") -> Column:
    c = F.col(content_col) if isinstance(content_col, str) else content_col
    return F.sha2(c, 256)


def seed_xor_constant(seed: int) -> int:
    """60-bit xor-permutation constant for a seed: the same
    md5-of-decimal-string both engines compute
    (DuckDB: ``('0x' || substr(md5(seed::VARCHAR), 1, 15))::BIGINT``)."""
    return int(hashlib.md5(str(seed).encode()).hexdigest()[:15], 16)
