"""Column statistics of a directory of fixture tables, for checking that
datagen.py generates what the repository's fixtures hold.

    python3 perfbench/fixture_stats.py <fixture dir> [<other dir>]

Prints one markdown table row per column: row count, type, and a summary of
its values (range, mean and distinct count of numbers; value frequencies of
categories; unit, range and step of timestamps). With a second directory
the two summaries sit side by side. ``documents`` gets a row describing its
near-duplicates: how many texts carry the ``dup`` token and how many of
those are another text of the table with `` dup`` appended.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _num(x: float) -> str:
    return f"{x:.4g}"


def column_summary(col: pa.ChunkedArray) -> str:
    typ = col.type
    if pa.types.is_list(typ):
        v = np.array(col.to_pylist(), dtype=np.float64)
        norms = np.linalg.norm(v, axis=1)
        return (f"dim {v.shape[1]}, norm {_num(norms.min())}-{_num(norms.max())}, "
                f"element std {_num(v.std())}")
    if pa.types.is_timestamp(typ):
        iv = np.unique(col.cast(pa.int64()).to_numpy())
        step = int(np.gcd.reduce(np.diff(iv))) if len(iv) > 1 else 0
        vals = col.to_numpy()
        return (f"{typ.unit}, {vals.min()} .. {vals.max()}, {len(iv)} distinct, "
                f"step gcd {step} {typ.unit}")
    vals = col.to_numpy(zero_copy_only=False)
    if pa.types.is_string(typ):
        freq = Counter(vals.tolist())
        lens = [len(x) for x in vals]
        if len(freq) <= 12:
            counts = sorted(freq.values())
            return f"{len(freq)} values, {counts[0]}-{counts[-1]} rows each"
        return f"{len(freq)} distinct, length {min(lens)}-{max(lens)}"
    v = vals.astype(np.float64)
    return (f"{_num(v.min())} .. {_num(v.max())}, mean {_num(v.mean())}, "
            f"std {_num(v.std())}, {len(np.unique(v))} distinct")


def near_duplicates(texts: list[str]) -> str:
    tagged = [t for t in texts if "dup" in t.split()]
    others = set(texts)
    copies = sum(1 for t in tagged if t.endswith(" dup") and t[:-4] in others)
    words = [len(t.split()) for t in texts]
    return (f"{len(tagged)} of {len(texts)} carry 'dup'; {copies} of those are another "
            f"text + ' dup'; {min(words)}-{max(words)} words, mean {_num(np.mean(words))}")


def summaries(d: str) -> dict[str, str]:
    out = {}
    for f in sorted(os.listdir(d)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(d, f))
        name = f[:-len(".parquet")]
        out[f"{name} (rows)"] = str(t.num_rows)
        for c in t.schema.names:
            out[f"{name}.{c}"] = column_summary(t.column(c))
        if name == "documents":
            out["documents (near-duplicates)"] = near_duplicates(t.column("text").to_pylist())
    return out


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    cols = [summaries(d) for d in argv]
    print("| column | " + " | ".join(argv) + " |")
    print("| --- |" + " --- |" * len(argv))
    for key in cols[0]:
        print(f"| {key} | " + " | ".join(c.get(key, "-") for c in cols) + " |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
