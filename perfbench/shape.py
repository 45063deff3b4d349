#!/usr/bin/env python3
"""Input shapes of the benchmark, measured on the repo's generated test data.

    python3 perfbench/shape.py <testdata dir, e.g. the sf0.1 one>

The benchmark never reads the test data: its generator (perfbench/src/
perfbench/{Gen,EtlIncremental,IndexIngest}.scala) takes these shapes as
constants. This script shows where they come from.

- events: period count (days), rows per day, key cardinality and key skew
  (Zipf exponent fitted to the top half of the rank-frequency curve);
- documents: words per document, exact and near-copy shares (5-word
  shingles, Jaccard >= 0.7, the benchmark's threshold), near-duplicate
  cluster sizes, and how a near-copy differs from its original.
"""
import collections
import difflib
import math
import os
import sys

import duckdb


def zipf_exponent(freqs):
    f = sorted(freqs, reverse=True)[: max(2, len(freqs) // 2)]
    pts = [(math.log(i + 1), math.log(v)) for i, v in enumerate(f)]
    mx = sum(x for x, _ in pts) / len(pts)
    my = sum(y for _, y in pts) / len(pts)
    return -sum((x - mx) * (y - my) for x, y in pts) / sum((x - mx) ** 2 for x, _ in pts)


def shingles(text):
    w = text.split()
    return {tuple(w[i:i + 5]) for i in range(max(1, len(w) - 4))}


def near_pairs(texts, threshold=0.7):
    sh = [shingles(t) for t in texts]
    inv = collections.defaultdict(list)
    for i, s in enumerate(sh):
        for g in s:
            inv[g].append(i)
    pairs = []
    for i, s in enumerate(sh):
        shared = collections.Counter(j for g in s for j in inv[g] if j > i)
        for j, n in shared.items():
            if n / len(s | sh[j]) >= threshold:
                pairs.append((i, j))
    return pairs


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    d = sys.argv[1]
    con = duckdb.connect()
    ev = os.path.join(d, "events.parquet")
    per_day = [r[0] for r in con.execute(
        f"SELECT count(*) FROM '{ev}' GROUP BY CAST(ts AS DATE)").fetchall()]
    keys = [r[0] for r in con.execute(
        f"SELECT count(*) FROM '{ev}' GROUP BY user_id").fetchall()]
    print(f"events: {len(per_day)} days, rows/day median {sorted(per_day)[len(per_day) // 2]}"
          f" (min {min(per_day)}, max {max(per_day)}), {len(keys)} keys,"
          f" key Zipf exponent {zipf_exponent(keys):.3f},"
          f" top key share {max(keys) / sum(keys):.4f}")

    texts = [r[0] for r in con.execute(
        f"SELECT text FROM '{os.path.join(d, 'documents.parquet')}'").fetchall()]
    lens = sorted(len(t.split()) for t in texts)
    exact = collections.Counter(texts)
    distinct = list(exact)
    pairs = near_pairs(distinct)
    parent = list(range(len(distinct)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in pairs:
        parent[find(i)] = find(j)
    sizes = [n for n in collections.Counter(find(i) for i in range(len(distinct))).values()
             if n > 1]
    edits = collections.Counter()
    for i, j in pairs:
        a, b = distinct[i].split(), distinct[j].split()
        ops = [o for o in difflib.SequenceMatcher(a=a, b=b, autojunk=False).get_opcodes()
               if o[0] != "equal"]
        at_end = all(max(o[2], o[4]) >= min(len(a), len(b)) for o in ops)
        words = sum(max(o[2] - o[1], o[4] - o[3]) for o in ops)
        edits[f"{words} word(s) {'at the end' if at_end else 'inside'}"] += 1
    print(f"documents: {len(texts)}, words/doc min {lens[0]} median {lens[len(lens) // 2]}"
          f" max {lens[-1]}, vocabulary {len({w for t in texts for w in t.split()})} words")
    print(f"  exact copies {sum(n - 1 for n in exact.values() if n > 1) / len(texts):.4f}"
          f" of documents; near-copies {sum(n - 1 for n in sizes) / len(distinct):.4f}"
          f" of distinct documents; cluster sizes {sorted(collections.Counter(sizes).items())}")
    print(f"  near-copy edits: {edits.most_common()}")


if __name__ == "__main__":
    main()
