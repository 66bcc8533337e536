"""Deterministic, cached workload inputs.

Each input set is a pure function of its generator arguments. It is
generated once into a cache directory keyed by a hash of every argument,
and a manifest records the SHA-256 of the generated files. Before use the
files are hashed again; a stale, partial or edited cache is regenerated,
so it can never change the workload.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

MANIFEST = "_inputs.json"
KEEP = 32  # cached input sets kept per kind (oldest removed first)


def content_hash(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name == MANIFEST and dirpath == root:
                continue
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode() + b"\0")
            with open(path, "rb") as f:
                for block in iter(lambda: f.read(1 << 20), b""):
                    h.update(block)
    return h.hexdigest()


def cached(cache_dir: str, kind: str, args: dict, generate) -> str:
    """Directory holding ``generate(out_dir, **args)``'s output."""
    key = hashlib.sha256(json.dumps({"kind": kind, **args}, sort_keys=True).encode())
    out = os.path.join(cache_dir, f"{kind}-{key.hexdigest()[:16]}")
    mpath = os.path.join(out, MANIFEST)
    if os.path.isfile(mpath):
        with open(mpath) as f:
            man = json.load(f)
        if man.get("args") == args and man.get("sha256") == content_hash(out):
            os.utime(mpath)
            return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(tmp, **args)
    with open(os.path.join(tmp, MANIFEST), "w") as f:
        json.dump({"args": args, "sha256": content_hash(tmp)}, f, sort_keys=True)
    os.replace(tmp, out)
    _evict(cache_dir, kind)
    return out


def _evict(cache_dir: str, kind: str) -> None:
    sets = [
        os.path.join(cache_dir, d)
        for d in os.listdir(cache_dir)
        if d.startswith(kind + "-") and os.path.isfile(os.path.join(cache_dir, d, MANIFEST))
    ]
    sets.sort(key=lambda d: os.path.getmtime(os.path.join(d, MANIFEST)), reverse=True)
    for d in sets[KEEP:]:
        shutil.rmtree(d, ignore_errors=True)
