#!/usr/bin/env python3
"""Print the distribution figures of a fixture directory as JSON, to
compare a generated fixture with the test fixture it stands in for:

    python3 perfbench/profile_fixture.py <fixture dir> [<fixture dir> ...]

The figures are the ones the benchmark's costs depend on: row counts,
the lineitem key, the document vocabulary, lengths and near-duplicates,
and the embedding, event and categorical domains.
"""
import collections
import json
import sys

import duckdb
import numpy as np

from fixture import TABLES


def near_dup_pairs(texts, n=4, threshold=0.5):
    """Document pairs whose word n-gram sets have Jaccard >= threshold."""
    grams = [{tuple(w[i:i + n]) for i in range(len(w) - n + 1)}
             for w in (t.split(" ") for t in texts)]
    index = collections.defaultdict(list)
    for d, g in enumerate(grams):
        for s in g:
            index[s].append(d)
    shared = collections.Counter()
    for ds in index.values():
        if len(ds) <= 50:  # a gram in many documents is vocabulary, not a copy
            for a in range(len(ds)):
                for b in range(a + 1, len(ds)):
                    shared[ds[a], ds[b]] += 1
    return sum(1 for (a, b), k in shared.items()
               if k / (len(grams[a]) + len(grams[b]) - k) >= threshold)


def profile(d):
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    one = lambda q: c.sql(q).fetchone()
    out = {"rows": {t: one(f"SELECT count(*) FROM {t}")[0] for t in TABLES}}
    pairs, orders, lmax = one("SELECT count(DISTINCT (l_orderkey, l_linenumber)), "
                              "count(DISTINCT l_orderkey), max(l_linenumber) FROM lineitem")
    out["lineitem"] = {"distinct_key_pairs": pairs, "orders_with_lines": orders,
                       "max_linenumber": lmax}
    docs = c.sql("SELECT text, lang FROM documents ORDER BY doc_id").fetchall()
    texts = [t for t, _ in docs]
    words = np.array([len(t.split(" ")) for t in texts])
    out["documents"] = {
        "vocabulary": len({w for t in texts for w in t.split(" ")}),
        "words_min_q1_median_q3_max": [int(words.min())] +
        [float(q) for q in np.percentile(words, [25, 50, 75])] + [int(words.max())],
        "dup_suffixed": sum(t.endswith(" dup") for t in texts),
        "exact_duplicate_texts": len(texts) - len(set(texts)),
        "near_dup_pairs_4gram_j50": near_dup_pairs(texts),
        "en_share": round(sum(l == "en" for _, l in docs) / len(docs), 3)}
    dim, nmin, nmax, labels = one("SELECT min(len(embedding)), min(sqrt(list_dot_product(embedding, embedding))), "
                                  "max(sqrt(list_dot_product(embedding, embedding))), count(DISTINCT label) "
                                  "FROM embeddings")
    out["embeddings"] = {"dim": dim, "norm_min": round(nmin, 4), "norm_max": round(nmax, 4),
                         "labels": labels}
    users, types, vmean, ts0, ts1 = one("SELECT count(DISTINCT user_id), count(DISTINCT event_type), "
                                        "avg(value), min(ts)::VARCHAR, max(ts)::VARCHAR FROM events")
    out["events"] = {"users": users, "event_types": types, "value_mean": round(vmean, 2),
                     "ts_range": [ts0, ts1]}
    out["distinct"] = {
        "p_name": one("SELECT count(DISTINCT p_name) FROM part")[0],
        "p_brand": one("SELECT count(DISTINCT p_brand) FROM part")[0],
        "o_custkey": one("SELECT count(DISTINCT o_custkey) FROM orders")[0],
        "l_partkey": one("SELECT count(DISTINCT l_partkey) FROM lineitem")[0]}
    return out


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    print(json.dumps({d: profile(d) for d in sys.argv[1:]}, indent=1))
