from sandcrawler_spark.queries.battery import ORACLES, QUERIES, flagship  # noqa: F401
from sandcrawler_spark.queries.filesets import ORACLES3, QUERIES3
from sandcrawler_spark.queries.imports import ORACLES7, QUERIES7
from sandcrawler_spark.queries.intake import ORACLES6, QUERIES6
from sandcrawler_spark.queries.refs import ORACLES4, QUERIES4
from sandcrawler_spark.queries.reporting import ORACLES5, QUERIES5
from sandcrawler_spark.queries.training import ORACLES2, QUERIES2

QUERIES = {**QUERIES, **QUERIES2, **QUERIES3, **QUERIES4, **QUERIES5, **QUERIES6, **QUERIES7}
ORACLES = {**ORACLES, **ORACLES2, **ORACLES3, **ORACLES4, **ORACLES5, **ORACLES6, **ORACLES7}

# ---------------------------------------------------------------------
# ORACLE AUTHORING NOTE (round-4 hard-won): DuckDB types `sum()` of ANY
# integer column as HUGEINT (int128), which its Arrow export surfaces as
# decimal128(38,0). The driver's value hash is type-sensitive, so a
# HUGEINT oracle column hash-mismatches Spark's int64 even when every
# value is identical (this was 4 of the 5 round-3 driver reds). ALWAYS
# wrap integer aggregates — including windowed cumsums and anything
# arithmetically derived from them — in CAST(... AS BIGINT) in oracle
# SQL. tools/check_oracle.py now fetches the DuckDB result as Arrow and
# fails any oracle whose output types cross a class boundary (decimal vs
# int, etc.), so this can no longer ship silently.
#
# ORACLE AUTHORING NOTE 2 (round-5 hard-won): DRIVER-SORTABLE SCALARS
# ONLY. The driver canonicalizes both result sets with a pandas
# sort_values over ALL columns before hashing; pandas cannot factorize
# list/struct/map cells, so ANY top-level array<>/struct<>/map<> column
# at the query output boundary crashes the driver's harness
# (`TypeError: unhashable type: 'list'`) even when every value is
# correct — this was all 7 of the round-4 driver reds. ALWAYS project
# nested columns to deterministic scalars at the boundary:
# `F.concat_ws('|', col)` (wrap in F.when(col.isNotNull(), ...) when
# NULL-vs-empty matters) or `F.to_json(col)` on the Spark side, with
# the literal joined string (or DuckDB `list_aggr(col, 'string_agg',
# '|')` / `to_json`) in the oracle. tools/check_oracle.py now FAILS any
# registered query — oracle or rows-only — whose Spark output schema or
# oracle Arrow schema carries a top-level nested column, so neither
# class can ship silently again.
# ---------------------------------------------------------------------
