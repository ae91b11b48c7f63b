#!/usr/bin/env python3
"""Where the bytes of a `graft.table.TableIO` table go: bytes and file
counts per table area, and the Parquet codec of every data file.

Areas, by path under the table dir:
  data       data/**      data files (parquet, _SUCCESS), no checksums
  data .crc  data/**/.*.crc   Hadoop checksum files of the data files
  seen       seen/**      URL-seen deltas, checksums included
  snapshots  snapshots/**, version-hint.txt
  _bloom     _bloom/**    persisted Bloom seen filters
  _cuckoo    _cuckoo/**   persisted cuckoo seen sketch
  other      anything else

Usage:
  python3 tools/table_bytes.py TABLEDIR [--since VERSION]

  --since VERSION  count only what came after snapshot VERSION: the
                   versioned dirs and snapshot files numbered above it
                   (data/vN, seen/vN, snapshots/vN.json), and every other
                   file modified after snapshots/vVERSION.json was
                   written (_bloom, _cuckoo, runids.json, the hint),
                   at its whole size. perfbench's `bytes_per_item`
                   counts the growth of the whole tree instead, so a
                   file rewritten in place (runids.json) counts here by
                   its size and there by what it grew.

The codec is read from each data file's footer with pyarrow (one name
per file, or "A+B" when its column chunks differ).
"""
import argparse, os, re, sys

import pyarrow.parquet as pq

ap = argparse.ArgumentParser(
    description="Bytes per area and data-file codecs of a TableIO table.")
ap.add_argument("table", help="table directory (holds version-hint.txt)")
ap.add_argument("--since", type=int, metavar="VERSION",
                help="count only what was added after this snapshot")
args = ap.parse_args()

AREAS = ["data", "data .crc", "seen", "snapshots", "_bloom", "_cuckoo",
         "other"]
VERSIONED = re.compile(r"^(data|seen)/v(\d+)(/|$)|^snapshots/v(\d+)\.json$")


def area(rel):
    top = rel.split("/", 1)[0]
    name = os.path.basename(rel)
    if top == "data":
        return "data .crc" if name.startswith(".") and name.endswith(".crc") \
            else "data"
    if top in ("seen", "_bloom", "_cuckoo"):
        return top
    if top == "snapshots" or rel == "version-hint.txt":
        return "snapshots"
    return "other"


def selected(rel, path, cutoff):
    """Whether `rel` was added after snapshot --since (always, without)."""
    if args.since is None:
        return True
    m = VERSIONED.match(rel)
    if m:
        return int(m.group(2) or m.group(4)) > args.since
    return os.path.getmtime(path) > cutoff


def codec(path):
    md = pq.ParquetFile(path).metadata
    names = sorted({md.row_group(g).column(c).compression
                    for g in range(md.num_row_groups)
                    for c in range(md.num_columns)})
    return "+".join(names) or "-", md.num_rows


root = os.path.abspath(args.table)
if not os.path.exists(os.path.join(root, "version-hint.txt")):
    sys.exit(f"{root}: no version-hint.txt, not a table dir")
cutoff = None
if args.since is not None:
    snap = os.path.join(root, "snapshots", f"v{args.since:05d}.json")
    if not os.path.exists(snap):
        sys.exit(f"{snap} does not exist (never committed, or expired)")
    cutoff = os.path.getmtime(snap)

sizes = {a: [0, 0] for a in AREAS}
data_files = []
for d, _, names in os.walk(root):
    for n in names:
        p = os.path.join(d, n)
        rel = os.path.relpath(p, root).replace(os.sep, "/")
        if not selected(rel, p, cutoff):
            continue
        a = area(rel)
        sizes[a][0] += 1
        sizes[a][1] += os.path.getsize(p)
        if a == "data" and n.endswith(".parquet"):
            data_files.append(rel)

scope = "whole table" if args.since is None else f"after v{args.since:05d}"
total = [sum(v[0] for v in sizes.values()), sum(v[1] for v in sizes.values())]
print(f"{root} ({scope})")
print(f"{'area':<10} {'files':>6} {'bytes':>14} {'share':>7}")
for a in AREAS:
    f, b = sizes[a]
    share = 100.0 * b / total[1] if total[1] else 0.0
    print(f"{a:<10} {f:>6} {b:>14,} {share:>6.1f}%")
print(f"{'total':<10} {total[0]:>6} {total[1]:>14,}")

per_codec = {}
lines = []
for rel in sorted(data_files):
    p = os.path.join(root, rel)
    c, rows = codec(p)
    size = os.path.getsize(p)
    agg = per_codec.setdefault(c, [0, 0, 0])
    agg[0] += 1
    agg[1] += size
    agg[2] += rows
    lines.append(f"{size:>12,} {rows:>8} {c:<8} {rel}")
print()
print(f"{'codec':<10} {'files':>6} {'bytes':>14} {'rows':>8}")
for c in sorted(per_codec):
    f, b, r = per_codec[c]
    print(f"{c:<10} {f:>6} {b:>14,} {r:>8}")
if lines:
    print()
    print(f"{'bytes':>12} {'rows':>8} {'codec':<8} data file")
    print("\n".join(lines))
