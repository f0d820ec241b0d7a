#!/usr/bin/env python3
"""Size an HtaStore on disk: bytes per raw point, by side and by column.

    python3 tools/store_footprint.py <store root>

Every regular file under the root is counted once, in one of these sides:
  raw       raw/**.parquet          (the kept points)
  partials  partials/**.parquet     (level-0 partial buckets)
  markers   batch_commits/*         (commit markers)
  crc       any *.crc               (Hadoop checksum side files)
  other     anything else           (_SUCCESS, lock files, ...)
A point is one row of the raw parquet files. Below the sides, the files
of each batch directory (`raw/batch_id=<k>` and `partials/batch_id=<k>`
together) are counted by kind: raw parquet, partials parquet, `.crc`
and other, one row per batch key and a median row, so a change to the
files a micro-batch leaves behind shows per batch. Last, every parquet
column of raw and partials is listed with its compressed bytes (summed
over all row groups), bytes per point and the encodings its footers
name, so a storage change can be sized column by column.
"""
import collections
import pathlib
import statistics
import sys

import pyarrow.parquet as pq

SIDES = ("raw", "partials", "markers", "crc", "other")


def side_of(rel):
    if rel.name.endswith(".crc"):
        return "crc"
    top = rel.parts[0]
    if top in ("raw", "partials") and rel.name.endswith(".parquet"):
        return top
    if top == "batch_commits":
        return "markers"
    return "other"


def batch_files(root):
    """Files per batch key, by kind: {key: Counter(raw, partials, crc, other)}."""
    per_batch = collections.defaultdict(collections.Counter)
    for top in ("raw", "partials"):
        for d in sorted((root / top).glob("batch_id=*")):
            key = d.name[len("batch_id="):]
            for f in d.rglob("*"):
                if not f.is_file():
                    continue
                kind = ("crc" if f.name.endswith(".crc")
                        else top if f.name.endswith(".parquet") else "other")
                per_batch[key][kind] += 1
    return per_batch


def main():
    if len(sys.argv) != 2:
        raise SystemExit(__doc__.strip().splitlines()[2].strip())
    root = pathlib.Path(sys.argv[1])
    if not (root / "raw").is_dir() and not (root / "partials").is_dir():
        raise SystemExit(f"store_footprint: {root} has neither raw/ nor partials/")

    side_bytes = collections.Counter()
    side_files = collections.Counter()
    col_bytes = collections.Counter()
    col_encodings = collections.defaultdict(set)
    points = 0
    for f in sorted(p for p in root.rglob("*") if p.is_file()):
        rel = f.relative_to(root)
        side = side_of(rel)
        side_bytes[side] += f.stat().st_size
        side_files[side] += 1
        if side not in ("raw", "partials"):
            continue
        meta = pq.ParquetFile(f).metadata
        if side == "raw":
            points += meta.num_rows
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            for c in range(rg.num_columns):
                col = rg.column(c)
                key = (side, col.path_in_schema)
                col_bytes[key] += col.total_compressed_size
                col_encodings[key].update(col.encodings)

    def per_point(b):
        return f"{b / points:10.3f}" if points else "       n/a"

    total = sum(side_bytes.values())
    print(f"store {root}: {points} raw points, {total} bytes, "
          f"{per_point(total).strip()} B/point")
    print(f"{'side':<10}{'files':>7}{'bytes':>14}{'B/point':>10}")
    for side in SIDES:
        print(f"{side:<10}{side_files[side]:>7}{side_bytes[side]:>14}"
              f"{per_point(side_bytes[side])}")
    per_batch = batch_files(root)
    if per_batch:
        kinds = ("raw", "partials", "crc", "other")
        print()
        print(f"{'batch':<24}" + "".join(f"{k:>10}" for k in kinds))
        def natural(key):  # <tag>_<batch id>: batch 10 after batch 9
            tag, _, n = key.rpartition("_")
            return (tag, int(n)) if n.isdigit() else (key, -1)
        for key, c in sorted(per_batch.items(), key=lambda kv: natural(kv[0])):
            print(f"{key:<24}" + "".join(f"{c[k]:>10}" for k in kinds))
        print(f"{'median':<24}" + "".join(
            f"{statistics.median(c[k] for c in per_batch.values()):>10g}"
            for k in kinds))
    print()
    print(f"{'column':<24}{'compressed':>12}{'B/point':>10}  encodings")
    for (side, name), b in sorted(col_bytes.items()):
        encs = ",".join(sorted(col_encodings[(side, name)]))
        print(f"{side + '.' + name:<24}{b:>12}{per_point(b)}  {encs}")


if __name__ == "__main__":
    main()
