"""Seeded input generator for the benchmark: pure numpy/pyarrow, no Spark.

Everything a workload feeds the library is a function of ``--seed``:

* ``corpus``: a Zipf-vocabulary document shard with a stated exact-duplicate
  rate, near-duplicate rate (a few token substitutions) and an eval slice
  (``doc_id % 100 == 0``, the slice ``curation_pipeline_v2`` decontaminates
  against) whose spans are planted in other documents;
* ``embeddings``: Gaussian-topic vectors (one unit-norm centre per topic);
* ``query_batches``: free-text BM25 queries whose terms are Zipf-drawn, so
  both hot and tail postings are read;
* ``rotation``: the ``plumber_loop`` pipeline order.

Generated tables are cached per seed as parquet under ``.cache`` next to this
file; reading a cached table is outside every timed or set-up figure.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")

# Corpus shape, stated so a reader can predict what each curation stage drops.
VOCAB_SIZE = 4_000
ZIPF_S = 1.1
DOC_LEN = (12, 90)  # uniform token count; < 20 tokens fails the quality gate
EXACT_DUP_RATE = 0.05
NEAR_DUP_RATE = 0.05
NEAR_DUP_EDITS = 2  # token substitutions per near-duplicate
EVAL_MOD = 100  # doc_id % 100 == 0 is the eval slice
CONTAMINATED_RATE = 0.02  # docs carrying a 12-token span of an eval doc
LANGS = ("en", "en", "en", "es", "de", "fr")

# The language markers and stopwords the library's quality gate and
# langid look for (functions/text.py); every document carries its
# language's markers, so "language" rejections come only from short docs.
_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "des", "est"],
}
_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]
_SYLLABLES = [a + b for a in "bcdfghjklmnprstvz" for b in "aeiou"]

# The plumber_loop rotation: the cheapest MLPerf analog four times and the
# v1 corpus curation pipeline once. The uneven 4:1 mix keeps the median op
# inside ssd's cluster (warm cycles 1.1-1.6 s against 7-9 s for curation on
# a 4-core host) and makes it the middle of four ssd cycles, not the larger
# of two (which spread 0.17-0.20 across seeds). gnmt, transformer, resnet
# and rcnn (4.5-11 s cycles) are left out: with any of them a warmed run no
# longer fits the benchmark's per-run time.
PIPELINES = ("ssd", "ssd", "ssd", "ssd", "curation")


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(ord(c) << (8 * i) for i, c in enumerate(stream))])


def vocabulary() -> list[str]:
    """Fixed pseudo-words; rank order is the Zipf order."""
    words = []
    for i in range(VOCAB_SIZE):
        a, b, c = i % 85, (i // 85) % 85, i // 7225
        words.append(_SYLLABLES[a] + _SYLLABLES[b] + ("" if c == 0 else _SYLLABLES[c]))
    return words


def zipf_probs(n: int, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _cached(name: str, make) -> pa.Table:
    path = os.path.join(CACHE_DIR, name + ".parquet")
    if os.path.exists(path):
        return pq.read_table(path)
    table = make()
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return table


def _make_corpus(seed: int, n_docs: int, first_id: int) -> pa.Table:
    rng = _rng(seed, f"corpus:{first_id}")
    vocab = np.array(vocabulary())
    probs = zipf_probs(VOCAB_SIZE)
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n_docs):
        doc_id = first_id + i
        lang = LANGS[rng.integers(len(LANGS))]
        r = rng.random()
        if i > 10 and r < EXACT_DUP_RATE:
            j = rng.integers(i)
            texts.append(texts[j])
            langs.append(langs[j])
            continue
        if i > 10 and r < EXACT_DUP_RATE + NEAR_DUP_RATE:
            j = rng.integers(i)
            toks = texts[j].split(" ")
            for pos in rng.choice(len(toks), size=min(NEAR_DUP_EDITS, len(toks)), replace=False):
                toks[pos] = vocab[rng.choice(VOCAB_SIZE, p=probs)]
            texts.append(" ".join(toks))
            langs.append(langs[j])
            continue
        n = int(rng.integers(DOC_LEN[0], DOC_LEN[1] + 1))
        toks = list(vocab[rng.choice(VOCAB_SIZE, size=n, p=probs)])
        markers = _MARKERS[lang]
        for pos in rng.choice(n, size=max(2, n // 8), replace=False):
            toks[pos] = markers[rng.integers(len(markers))]
        for pos in rng.choice(n, size=max(1, n // 16), replace=False):
            toks[pos] = _STOPWORDS[rng.integers(len(_STOPWORDS))]
        if doc_id % EVAL_MOD != 0 and i > EVAL_MOD and rng.random() < CONTAMINATED_RATE:
            src = texts[(i // EVAL_MOD) * EVAL_MOD - (first_id % EVAL_MOD)].split(" ")
            at = int(rng.integers(max(1, n - 12)))
            toks[at : at + 12] = src[:12]
        texts.append(" ".join(toks))
        langs.append(lang)
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": langs,
            "source": [f"src{k % 4}" for k in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def corpus(seed: int, n_docs: int, first_id: int = 0) -> pa.Table:
    """Documents ``first_id .. first_id + n_docs - 1`` in the sf-dir
    ``documents`` schema (doc_id, text, lang, source, n_chars)."""
    return _cached(f"corpus_s{seed}_n{n_docs}_f{first_id}", lambda: _make_corpus(seed, n_docs, first_id))


def _topic_draws(seed: int, stream: str, n: int, dim: int, topics: int) -> tuple[np.ndarray, np.ndarray]:
    """(topic label, vector) pairs around the seed's unit-norm topic centres."""
    centres = _rng(seed, "centres").normal(size=(topics, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    rng = _rng(seed, stream)
    label = rng.integers(topics, size=n)
    vecs = centres[label] + rng.normal(scale=0.35 / np.sqrt(dim), size=(n, dim))
    return label, vecs.astype(np.float32)


def _make_embeddings(seed: int, n: int, dim: int, topics: int, first_id: int) -> pa.Table:
    label, vecs = _topic_draws(seed, f"vectors:{first_id}", n, dim, topics)
    return pa.table(
        {
            "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )


def embeddings(seed: int, n: int, dim: int = 32, topics: int = 16, first_id: int = 0) -> pa.Table:
    """Gaussian-topic embeddings in the sf-dir ``embeddings`` schema."""
    return _cached(
        f"emb_s{seed}_n{n}_d{dim}_t{topics}_f{first_id}",
        lambda: _make_embeddings(seed, n, dim, topics, first_id),
    )


def query_batches(seed: int, n_batches: int, per_batch: int, terms: int = 3) -> list[list[tuple[int, str]]]:
    """Free-text query batches; each query's terms are Zipf draws over the
    corpus vocabulary, so hot and tail postings are both read."""
    rng = _rng(seed, "queries")
    vocab = vocabulary()
    probs = zipf_probs(VOCAB_SIZE)
    out = []
    for b in range(n_batches):
        batch = []
        for q in range(per_batch):
            ids = rng.choice(VOCAB_SIZE, size=terms, p=probs)
            batch.append((b * per_batch + q, " ".join(vocab[i] for i in ids)))
        out.append(batch)
    return out


def query_vectors(seed: int, n_batches: int, per_batch: int, dim: int = 32, topics: int = 16) -> list[np.ndarray]:
    """IVF query batches drawn from the same topic mixture as the corpus."""
    _, vecs = _topic_draws(seed, "qvectors", n_batches * per_batch, dim, topics)
    return [vecs[b * per_batch : (b + 1) * per_batch] for b in range(n_batches)]


def rotation(seed: int) -> list[str]:
    """The ``plumber_loop`` order: one seeded permutation of ``PIPELINES``,
    repeated, so every rotation holds the same op mix."""
    rng = _rng(seed, "rotation")
    return [PIPELINES[i] for i in rng.permutation(len(PIPELINES))]
