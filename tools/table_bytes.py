#!/usr/bin/env python3
"""Where the bytes of a `graft.table.TableIO` table or a
`graft.ops.DedupIndex` go: bytes and file counts per area, and the
Parquet codec of every data file and whether it holds a dictionary page.

A table dir holds version-hint.txt; an index dir holds index-meta.json.

Table areas, by path under the table dir:
  data       data/**      data files (parquet), no checksums
  data .crc  data/**/.*.crc   Hadoop checksum files of the data files
  seen       seen/**      URL-seen deltas
  snapshots  snapshots/**, version-hint.txt
  _bloom     _bloom/**    persisted Bloom seen filters
  _cuckoo    _cuckoo/**   persisted cuckoo seen sketch
  _staging   _staging/**  files of a write not yet landed: the leftovers
                          of a crashed commit or of a zombie task attempt
                          (TableIO.expire and the next write delete it)
  other      anything else
TableIO writes its data files and seen deltas itself, so a data or seen
dir holds only parquet files. Tables written by Spark's writer (before
that) also hold a `_SUCCESS` marker per dir, counted in `data`/`seen`,
and a `.crc` checksum per file, counted in `data .crc` (data) or `seen`.

Index areas, by path under the index dir:
  sig        sig/**       signature deltas (parquet, _SUCCESS), no checksums
  sig .crc   sig/**/.*.crc  Hadoop checksum files of the deltas
  meta       index-meta.json and its checksum
  other      anything else
For an index it also prints the bytes per indexed document: the whole
dir's, and the signature parquet's alone, over the meta's `docs`.

Usage:
  python3 tools/table_bytes.py TABLEDIR [--since VERSION]
  python3 tools/table_bytes.py INDEXDIR

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
per file, or "A+B" when its column chunks differ), and `dict` says
whether any of its column chunks has a dictionary page.
"""
import argparse, json, os, re, sys

import pyarrow.parquet as pq

ap = argparse.ArgumentParser(
    description="Bytes per area and data-file codecs of a TableIO table "
                "or a DedupIndex.")
ap.add_argument("table", help="table directory (holds version-hint.txt) "
                "or index directory (holds index-meta.json)")
ap.add_argument("--since", type=int, metavar="VERSION",
                help="count only what was added after this snapshot "
                     "(tables only)")
args = ap.parse_args()

VERSIONED = re.compile(r"^(data|seen)/v(\d+)(/|$)|^snapshots/v(\d+)\.json$")


def crc(name):
    return name.startswith(".") and name.endswith(".crc")


def table_area(rel):
    top = rel.split("/", 1)[0]
    name = os.path.basename(rel)
    if top == "data":
        return "data .crc" if crc(name) else "data"
    if top in ("seen", "_bloom", "_cuckoo", "_staging"):
        return top
    if top == "snapshots" or rel == "version-hint.txt":
        return "snapshots"
    return "other"


def index_area(rel):
    top = rel.split("/", 1)[0]
    if top == "sig":
        return "sig .crc" if crc(os.path.basename(rel)) else "sig"
    if rel in ("index-meta.json", ".index-meta.json.crc"):
        return "meta"
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
    """(codec names, rows, whether any column chunk has a dictionary page)."""
    md = pq.ParquetFile(path).metadata
    chunks = [md.row_group(g).column(c)
              for g in range(md.num_row_groups) for c in range(md.num_columns)]
    names = sorted({c.compression for c in chunks})
    return ("+".join(names) or "-", md.num_rows,
            any(c.has_dictionary_page for c in chunks))


root = os.path.abspath(args.table)
meta = os.path.join(root, "index-meta.json")
if os.path.exists(os.path.join(root, "version-hint.txt")):
    AREAS = ["data", "data .crc", "seen", "snapshots", "_bloom", "_cuckoo",
             "_staging", "other"]
    area, data_area, docs = table_area, "data", None
elif os.path.exists(meta):
    if args.since is not None:
        sys.exit("--since applies to a table dir, not an index")
    AREAS = ["sig", "sig .crc", "meta", "other"]
    with open(meta) as f:
        docs = json.load(f)["docs"]
    area, data_area = index_area, "sig"
else:
    sys.exit(f"{root}: no version-hint.txt or index-meta.json, "
             "not a table or index dir")
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
        if a == data_area and n.endswith(".parquet"):
            data_files.append(rel)

scope = ("index" if docs is not None else "whole table") \
    if args.since is None else f"after v{args.since:05d}"
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
parquet_bytes = 0
for rel in sorted(data_files):
    p = os.path.join(root, rel)
    c, rows, dictionary = codec(p)
    size = os.path.getsize(p)
    parquet_bytes += size
    agg = per_codec.setdefault(c, [0, 0, 0])
    agg[0] += 1
    agg[1] += size
    agg[2] += rows
    lines.append(f"{size:>12,} {rows:>8} {c:<8} {'yes' if dictionary else 'no':<4} {rel}")
if docs is not None:
    per = (lambda b: f"{b / docs:,.2f}") if docs else (lambda b: "-")
    print(f"docs {docs:,}: {per(total[1])} B per doc, "
          f"{per(parquet_bytes)} B of signature parquet")
print()
print(f"{'codec':<10} {'files':>6} {'bytes':>14} {'rows':>8}")
for c in sorted(per_codec):
    f, b, r = per_codec[c]
    print(f"{c:<10} {f:>6} {b:>14,} {r:>8}")
if lines:
    print()
    print(f"{'bytes':>12} {'rows':>8} {'codec':<8} {'dict':<4} data file")
    print("\n".join(lines))
