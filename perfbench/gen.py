"""Seeded input generators. The same seed gives byte-identical files.

- ``edge_csv``: the reference's ``followerId,followeeId`` CSV. Ids are
  cubed-uniform over the Twitter follower graph's 11,316,811-node id
  range, so low ids are hubs and the reference cutoffs prune the way
  they do on that dataset: MAX=50000/40000 keep a small hub subgraph,
  MAX=7812500 keeps most edges.
- ``powerlaw_parquet``: a dense-id multigraph with about 50 edges per
  node and squared-uniform endpoints (hub share ~ N^-1/2), with the
  duplicates and self-loops that multigraph semantics must handle.
- ``documents_parquet``: a corpus in the ``documents`` table's schema
  with exact duplicates, near duplicates, short documents and several
  languages, plus the seed-selected eval split, and ``stream_batches``
  which hash-splits it into ingest batches.

Each generator returns the stats the run record reports.
"""

from __future__ import annotations

import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: node count of the Twitter follower graph the reference programs target
TWITTER_NODES = 11_316_811
EDGES_PER_NODE = 50


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input, so resizing one leaves the others unchanged
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _file_bytes(path: Path) -> int:
    if path.is_file():
        return path.stat().st_size
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _graph_stats(src: np.ndarray, dst: np.ndarray) -> dict:
    return {
        "edges": int(src.size),
        "nodes": int(np.unique(np.concatenate([src, dst])).size),
        "max_out_degree": int(np.bincount(np.unique(src, return_inverse=True)[1]).max()),
        "max_in_degree": int(np.bincount(np.unique(dst, return_inverse=True)[1]).max()),
    }


def edge_csv(path: Path, seed: int, n_edges: int) -> dict:
    rng = _rng(seed, "edge_csv")
    src = np.floor(rng.random(n_edges) ** 3 * TWITTER_NODES).astype(np.int64)
    dst = np.floor(rng.random(n_edges) ** 3 * TWITTER_NODES).astype(np.int64)
    path.parent.mkdir(parents=True, exist_ok=True)
    pacsv.write_csv(
        pa.table({"followerId": src, "followeeId": dst}),
        path,
        pacsv.WriteOptions(include_header=False),
    )
    return {**_graph_stats(src, dst), "bytes": _file_bytes(path)}


def powerlaw_parquet(path: Path, seed: int, n_edges: int) -> dict:
    rng = _rng(seed, "powerlaw")
    n_nodes = max(200, n_edges // EDGES_PER_NODE)
    src = np.floor(rng.random(n_edges) ** 2 * n_nodes).astype(np.int64)
    dst = np.floor(rng.random(n_edges) ** 2 * n_nodes).astype(np.int64)
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table({"src": src, "dst": dst}), path)
    return {**_graph_stats(src, dst), "id_range": n_nodes, "bytes": _file_bytes(path)}


#: a subset of each language's markers in ``operators.text.LANG_MARKERS``
#: (English's are also the curation gate's stopwords), so documents get
#: every curation verdict: kept, language unknown, low stopword, too short
_MARKERS = {
    "en": "the of and a to in is was he for it with as his on be at by this had".split(),
    "de": "der die und den von zu das mit sich des auf ist im dem nicht ein".split(),
    "es": "que el los del se las por un para con una su al lo como pero".split(),
    "fr": "et les des du une est pour qui dans par plus pas au sur ne ce".split(),
}
_SYLLABLES = "ka ri mo te lu sa ni po ve da zo mi ru fe ga hi no be".split()


def _content_vocab() -> list[str]:
    words = [a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in _SYLLABLES]
    return words[::7]  # ~830 content words


def _documents(seed: int, n_docs: int) -> tuple[list[str], list[str]]:
    rng = _rng(seed, "documents")
    vocab = np.array(_content_vocab())
    zipf = 1.0 / np.arange(1, vocab.size + 1)
    zipf /= zipf.sum()
    langs = np.array(["en", "de", "es", "fr", "und"])
    lang_of = langs[rng.choice(5, n_docs, p=[0.7, 0.08, 0.08, 0.08, 0.06])]
    texts: list[str] = []
    for i in range(n_docs):
        kind = rng.random()
        if i > 10 and kind < 0.03:  # exact duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)])
            continue
        if i > 10 and kind < 0.11:  # near duplicate: a few words replaced
            words = texts[rng.integers(0, i)].split()
            for j in rng.choice(len(words), max(1, len(words) // 20), replace=False):
                words[j] = vocab[rng.choice(vocab.size, p=zipf)]
            texts.append(" ".join(words))
            continue
        n = int(rng.integers(8, 160))
        lang = lang_of[i]
        markers = _MARKERS.get(lang)
        n_mark = int(rng.binomial(n, 0.3)) if markers else 0
        words = list(vocab[rng.choice(vocab.size, n - n_mark, p=zipf)])
        if n_mark:
            words += [markers[k] for k in rng.integers(0, len(markers), n_mark)]
        rng.shuffle(words)
        texts.append(" ".join(words))
    return texts, list(lang_of)


def documents_parquet(
    docs_path: Path, eval_path: Path, seed: int, n_docs: int, eval_mod: int = 17
) -> dict:
    texts, lang = _documents(seed, n_docs)
    rng = _rng(seed, "eval_split")
    doc_id = np.arange(n_docs, dtype=np.int64)
    source = rng.integers(0, 20, n_docs)
    table = pa.table(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": lang,
            "source": [f"src{s}" for s in source],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    is_eval = rng.integers(0, eval_mod, n_docs) == 0
    docs_path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, docs_path)
    pq.write_table(table.filter(pa.array(is_eval)), eval_path)
    return {
        "docs": n_docs,
        "eval_docs": int(is_eval.sum()),
        "text_bytes": sum(len(t.encode()) for t in texts),
        "bytes": _file_bytes(docs_path),
        "eval_bytes": _file_bytes(eval_path),
    }


def stream_batches(docs_path: Path, out_dir: Path, seed: int, n_batches: int) -> dict:
    """Hash-split the documents into ``n_batches`` ingest batches."""
    table = pq.read_table(docs_path)
    batch_of = _rng(seed, "stream_split").integers(0, n_batches, table.num_rows)
    out_dir.mkdir(parents=True, exist_ok=True)
    sizes = []
    for b in range(n_batches):
        part = table.filter(pa.array(batch_of == b))
        pq.write_table(part, out_dir / f"batch_{b}.parquet")
        sizes.append(part.num_rows)
    return {"batches": n_batches, "batch_docs": sizes, "bytes": _file_bytes(out_dir)}
