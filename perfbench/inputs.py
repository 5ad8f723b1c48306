"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of ``seed``: the same seed gives
byte-identical inputs. Crawl graphs come from the program's own fixture
generator (``goribot_spark.sources.fixtures.generate_all``) and are cached per
(shape, seed) under the work directory, so generation never lands in a timed
region. The corpus table (``documents``) is generated here with the schema
of the repository's ``documents`` test tables and a controlled share of
exact, near and prefix duplicates, so every dedup query has output.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The live crawl's graph: 48 hosts, each a root page and its 3 children (4
# on the first host); every page links 1-3 of 256 images. No flaky pages:
# every fetch succeeds on its first attempt.
CRAWL_SHAPE = {"n_hosts": 48, "depth": 1, "n_images": 256, "flaky_frac": 0.0}

# Documents in the corpus table.
N_DOCS = 500

_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer"
).split()
_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "de": ["der", "die", "und", "das", "ist", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "est"],
    "es": ["el", "la", "los", "de", "que", "es"],
    "zh": ["的", "是", "了", "在", "和"],
}
_LANGS = list(_MARKERS)


def crawl_fixture(work: str, seed: int) -> str:
    """Directory holding the crawl graph's fixture tables at ``seed``;
    generated on first use and reused afterwards."""
    from goribot_spark.sources.fixtures import generate_all

    tag = "_".join(f"{k}{v}" for k, v in sorted(CRAWL_SHAPE.items()))
    out = os.path.join(work, "inputs", f"crawl_{tag}_s{seed}")
    marker = os.path.join(out, "_complete")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        generate_all(out, seed=seed, **CRAWL_SHAPE)
        open(marker, "w").close()
    return out


def _doc_text(rng: np.random.Generator, lang: str, n: int) -> list[str]:
    words = list(rng.choice(_WORDS, size=n))
    # language markers at a per-document density: drives lang_id and the
    # stopword part of quality_score across both sides of their thresholds
    density = rng.uniform(0.0, 0.35)
    for i in range(n):
        if rng.random() < density:
            words[i] = str(rng.choice(_MARKERS[lang]))
    return words


def generate_documents(seed: int, n_docs: int = N_DOCS) -> pa.Table:
    """``documents(doc_id, text, lang, source, n_chars)``: 8% exact copies of
    a fresh document, 8% near copies (one late token changed, 8-token prefix
    kept), 5% prefix copies (same first 8 tokens, new tail), the rest fresh,
    in a seeded order. Copies are only made of fresh documents, so every
    near-duplicate cluster has the same shape (a star) at every seed and the
    iterative component search does the same number of rounds."""
    rng = np.random.default_rng([seed, 1])
    n_exact, n_near, n_prefix = (round(n_docs * f) for f in (0.08, 0.08, 0.05))
    n_fresh = n_docs - n_exact - n_near - n_prefix
    langs = [_LANGS[int(rng.integers(len(_LANGS)))] for _ in range(n_fresh)]
    texts = [_doc_text(rng, lang, int(rng.integers(12, 70))) for lang in langs]
    for kind in ["exact"] * n_exact + ["near"] * n_near + ["prefix"] * n_prefix:
        k = int(rng.integers(n_fresh))
        words = list(texts[k])
        if kind == "near":
            j = int(rng.integers(max(8, len(words) - 4), len(words)))
            words[j] = str(rng.choice(_WORDS))
        elif kind == "prefix":
            words = words[:8] + _doc_text(rng, langs[k], int(rng.integers(8, 60)))
        texts.append(words)
        langs.append(langs[k])
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    langs = [langs[i] for i in order]
    text = [" ".join(w) for w in texts]
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def corpus_tables(work: str, seed: int) -> str:
    """Directory holding ``documents.parquet`` at ``seed`` (the layout
    ``__spark_entry__.queries()`` reads)."""
    out = os.path.join(work, "inputs", f"corpus_d{N_DOCS}_s{seed}")
    marker = os.path.join(out, "_complete")
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        pq.write_table(generate_documents(seed), os.path.join(out, "documents.parquet"))
        open(marker, "w").close()
    return out
