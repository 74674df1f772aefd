"""Compare the stored artifacts of two index directories.

    python scripts/diff_index.py INDEX_A INDEX_B

For each of docs, postings, dictionary, dict_parts and doc_stats it
reads every parquet file of the artifact in both directories (the
``shard=N`` directories become the ``shard`` column), sorts the rows
by the artifact's key and compares every column. One line per
artifact: ``identical`` or ``DIFF`` with the differing columns, the
bytes of its parquet files in A and B, and the parquet files per
shard directory in A and B. Exits 1 when any artifact differs.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

KEYS = {
    "docs": ["doc_id"],
    "postings": ["shard", "field", "term_id"],
    "dictionary": ["field", "term"],
    "dict_parts": ["shard", "field", "term"],
    "doc_stats": ["shard", "doc_id", "field"],
}


def _parquet_files(root: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


def _layout(root: str) -> tuple[int, str]:
    """-> (parquet bytes, files per shard dir as 'lo-hi' or '-')."""
    files = _parquet_files(root)
    per_dir: dict[str, int] = {}
    for f in files:
        d = os.path.dirname(f)
        if os.path.basename(d).startswith("shard="):
            per_dir[d] = per_dir.get(d, 0) + 1
    counts = sorted(per_dir.values())
    spread = f"{counts[0]}-{counts[-1]}" if counts else "-"
    return sum(os.path.getsize(f) for f in files), spread


def _sorted_table(root: str, keys: list[str]) -> pa.Table:
    t = pq.read_table(root)
    for i, f in enumerate(t.schema):
        if pa.types.is_dictionary(f.type):  # the shard= partition column
            t = t.set_column(i, f.name, t.column(i).cast(f.type.value_type))
    return t.sort_by([(k, "ascending") for k in keys])


def diff_artifact(a_dir: str, b_dir: str, name: str) -> tuple[bool, str]:
    a_root, b_root = f"{a_dir}/{name}", f"{b_dir}/{name}"
    present = os.path.isdir(a_root), os.path.isdir(b_root)
    if not all(present):
        same = present == (False, False)
        return same, f"{name}: {'absent in both' if same else 'DIFF (present in one)'}"
    a = _sorted_table(a_root, KEYS[name])
    b = _sorted_table(b_root, KEYS[name])
    cols = sorted(set(a.column_names) | set(b.column_names))
    bad = [
        c for c in cols
        if c not in a.column_names
        or c not in b.column_names
        or not a.column(c).equals(b.column(c))
    ]
    (a_bytes, a_files), (b_bytes, b_files) = _layout(a_root), _layout(b_root)
    verdict = "DIFF " + ",".join(bad) if bad else "identical"
    return not bad, (
        f"{name}: {verdict}; rows {a.num_rows} vs {b.num_rows}; bytes "
        f"{a_bytes} vs {b_bytes}; files/shard dir {a_files} vs {b_files}"
    )


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    ok = True
    for name in KEYS:
        same, line = diff_artifact(argv[0], argv[1], name)
        ok &= same
        print(line)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
