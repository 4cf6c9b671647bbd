"""Measure the corpus distributions the generator bootstraps from.

    python3 perfbench/measure.py <sf_dir> > perfbench/profile.json

Reads the documents and embeddings tables of a test-data directory (the
profile in this directory was measured on the sf0.1 tables, the ones
graft.tools.Sf1Bench bootstraps from) and prints, as JSON:

- token_len_counts: documents per token count, over the documents that
  are not marked near-dups;
- unigram_counts: token frequencies over the same documents;
- lang_counts: documents per language;
- near_dup_frac: documents whose last token is the `dup` marker (in sf0.1
  each is another document's text with `dup` appended and no token
  changed: near_dup_matched counts the ones whose source was found);
- exact_dup_frac: documents whose text equals an earlier document's;
- label_counts, label_dim_mu, label_dim_sd: per embedding label, its row
  count and each dimension's mean and population standard deviation;
- unit_norm: whether every embedding has length 1 (to 1e-6).
"""
import collections
import json
import sys

import duckdb

DUP = "dup"


def measure(d):
    con = duckdb.connect()
    rows = con.sql(f"SELECT doc_id, text, lang FROM read_parquet('{d}/documents.parquet') "
                   "ORDER BY doc_id").fetchall()
    toks = {i: t.split(" ") for i, t, _ in rows}
    near = [i for i, t in toks.items() if t[-1] == DUP]
    plain = [t for t in toks.values() if t[-1] != DUP]
    by_text = {}
    for i, t in toks.items():
        by_text.setdefault(" ".join(t), i)
    matched = sum(1 for i in near if " ".join(toks[i][:-1]) in by_text)
    exact = len(toks) - len(by_text)

    lab = con.sql(f"""
        SELECT label, p, avg(v) AS mu, stddev_pop(v) AS sd FROM (
          SELECT label, unnest(generate_series(1, len(embedding))) AS p, unnest(embedding) AS v
          FROM read_parquet('{d}/embeddings.parquet'))
        GROUP BY label, p ORDER BY label, p""").fetchall()
    labels = sorted({r[0] for r in lab})
    dims = max(r[1] for r in lab)
    mu = {(r[0], r[1]): r[2] for r in lab}
    sd = {(r[0], r[1]): r[3] for r in lab}
    norm_dev = con.sql(f"""
        SELECT max(abs(sqrt(list_sum(list_transform(embedding, x -> x * x))) - 1))
        FROM read_parquet('{d}/embeddings.parquet')""").fetchone()[0]

    def counts(xs):
        return dict(sorted(collections.Counter(xs).items()))

    return {
        "docs": len(toks),
        "token_len_counts": {str(k): v for k, v in counts(len(t) for t in plain).items()},
        "unigram_counts": counts(w for t in plain for w in t),
        "lang_counts": counts(lang for _, _, lang in rows),
        "near_dup_frac": len(near) / len(toks),
        "near_dup_matched": matched,
        "exact_dup_frac": exact / len(toks),
        "label_counts": {str(k): v for k, v in con.sql(
            f"SELECT label, count(*) FROM read_parquet('{d}/embeddings.parquet') "
            "GROUP BY label ORDER BY label").fetchall()},
        "label_dim_mu": [[round(mu[(l, p)], 6) for p in range(1, dims + 1)] for l in labels],
        "label_dim_sd": [[round(sd[(l, p)], 6) for p in range(1, dims + 1)] for l in labels],
        "unit_norm": norm_dev < 1e-6,
    }


if __name__ == "__main__":
    json.dump(measure(sys.argv[1]), sys.stdout, indent=1, sort_keys=True)
    sys.stdout.write("\n")
