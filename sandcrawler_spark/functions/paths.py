"""C14: filesystem-path sanitization (reference: misc.py:303-310
``sanitize_fs_path`` — chroot-join to '/', normpath, make relative).

The column form is a pure-Catalyst segment fold (split → higher-order
``aggregate`` with an array accumulator → ``array_join``): '' and '.'
segments are dropped, '..' pops the stack (never below the chroot
root, matching os.path.normpath on an absolute path), everything else
pushes. No Python in the hot path — the fold compiles to a single
projection, so sanitizing 10^10 blob keys is a map-only stage.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sanitize_fs_path_col(path: Column | str) -> Column:
    """Pretend-chroot to '/', cancel redundant segments, return a
    relative path (misc.py:303-310) — whole-stage-codegen segment fold."""
    c = F.col(path) if isinstance(path, str) else path
    segs = F.split(F.concat(F.lit("/"), c), "/")
    folded = F.aggregate(
        segs,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when((s == "") | (s == "."), acc)
        .when(
            s == "..",
            F.slice(acc, F.lit(1), F.greatest(F.size(acc) - 1, F.lit(0))),
        )
        .otherwise(F.concat(acc, F.array(s))),
    )
    joined = F.array_join(folded, "/")
    return F.when(joined == "", F.lit(".")).otherwise(joined)
