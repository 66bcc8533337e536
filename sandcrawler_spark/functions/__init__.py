"""Scalar function kernel: URL canonicalization, hashes,
robots rules, filesystem paths, slugs.

Most functions exist in two forms:

- a pure-Python implementation (used by the single-threaded oracle and
  golden unit tests), and
- a Spark form: a Catalyst column expression when the built-in function
  surface can express it (the fast path — stays inside whole-stage
  codegen), else a vectorized pandas UDF (Arrow-batched; never
  row-at-a-time Python).
"""
