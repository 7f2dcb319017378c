"""Seeded document corpora for ``curation_corpus``: its curation
documents and its index batch.

A base corpus of natural-vocabulary documents is generated once per
checkout with ``tools/corpus_gen.natural_documents`` (Zipf vocabulary,
lognormal lengths, planted quotes) and cached as parquet. Each seed then
derives its corpus cheaply from the base: a seeded sample of documents,
exact copies, near-duplicate variants (a few token edits each, so the
dedup stages have something to drop) and URLs with a planted share of
duplicates that differ only in ways URL canonicalization removes.
Derived corpora are cached by (workload, seed, size).
"""

from __future__ import annotations

import os
import random
import sys

from perfbench.harness import CACHE, ROOT

BASE_DOCS = 600
BASE_SEED = "perfbench-base"
VARIANT_ID0 = 10_000_000  # ids of planted copies and variants start here


def base_path() -> str:
    return os.path.join(CACHE, "inputs", f"corpus-base-{BASE_DOCS}")


def corpus_gen():
    """The program's corpus generator module, ``tools/corpus_gen.py``."""
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import corpus_gen

    return corpus_gen


def ensure_base(start_spark) -> None:
    """Generate the base corpus if it is not cached (the build step)."""
    path = base_path()
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    spark = start_spark()
    corpus_gen().natural_documents(spark, BASE_DOCS, seed=BASE_SEED, dup_every=7) \
        .coalesce(1).write.mode("overwrite").parquet(path)
    spark.stop()


def _variant(text: str, rnd: random.Random, edits: int) -> str:
    lines = [ln.split(" ") for ln in text.split("\n")]
    flat = [(i, j) for i, ln in enumerate(lines) for j in range(len(ln))]
    vocab = [w for ln in lines for w in ln]
    for i, j in rnd.sample(flat, min(edits, len(flat))):
        lines[i][j] = rnd.choice(vocab)
    return "\n".join(" ".join(ln) for ln in lines)


def derive(workload: str, seed: int, n_docs: int) -> str:
    """Parquet path of the seed's corpus: ``n_docs`` sampled documents
    plus n/10 near-duplicate variants and n/40 exact copies, with
    columns (doc_id, text, lang, source, n_chars, url)."""
    import pandas as pd

    out = os.path.join(CACHE, "inputs", f"{workload}-s{seed}-n{n_docs}.parquet")
    if os.path.exists(out):
        return out
    base = pd.read_parquet(base_path()).sort_values("doc_id").reset_index(drop=True)
    rnd = random.Random(seed)
    docs = base.iloc[sorted(rnd.sample(range(len(base)), n_docs))].reset_index(drop=True)
    extra = []
    for k, i in enumerate(rnd.sample(range(n_docs), n_docs // 10)):
        row = docs.iloc[i].to_dict()
        row["text"] = _variant(row["text"], rnd, edits=max(2, len(row["text"].split()) // 40))
        row["doc_id"] = VARIANT_ID0 + k
        extra.append(row)
    for k, i in enumerate(rnd.sample(range(n_docs), n_docs // 40)):
        row = docs.iloc[i].to_dict()
        row["doc_id"] = VARIANT_ID0 + n_docs + k
        extra.append(row)
    corpus = pd.concat([docs, pd.DataFrame(extra)], ignore_index=True)
    corpus["n_chars"] = corpus["text"].str.len().astype("int64")
    # URLs: one per document, a tenth of them re-using an earlier
    # document's URL in a form canonicalization folds back (host case,
    # trailing slash, tracking parameter).
    urls = [f"https://site{int(d) % 37}.example/doc/{int(d)}" for d in corpus["doc_id"]]
    for i in rnd.sample(range(1, len(urls)), len(urls) // 10):
        src = urls[rnd.randrange(i)]
        host, path = src[len("https://"):].split("/", 1)
        urls[i] = rnd.choice([
            f"https://{host.upper()}/{path}",
            f"https://{host}/{path}/",
            f"https://{host}/{path}?utm_source=bench",
        ])
    corpus["url"] = urls
    corpus = corpus.sample(frac=1.0, random_state=seed).reset_index(drop=True)
    tmp = out + ".tmp"
    corpus.to_parquet(tmp, index=False)
    os.replace(tmp, out)
    return out
