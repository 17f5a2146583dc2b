"""Seeded inputs and the DuckDB output check.

The corpus is ``(doc_id, text)`` with ``text`` from
``neural_search_spark.corpus.generate_batch``; every query term and
phrase is drawn from the corpus token stream, so terms are as popular
as they are in the text (Zipf) and some repeat. Everything is a pure
function of the seed. ``pins.json`` holds the digests of a fixed-seed
sample of both, so an edit to the generator cannot silently change a
workload.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import numpy as np
import pandas as pd

PIN_SEED = 1
PIN_DOCS = 64
TOKEN_RE = re.compile(r"[a-z0-9]+")

# 20-slot cycle of single searches: or_head 35%, or_tail 25%, and 15%,
# phrase 15%, hybrid 10%. Fixed whatever the seed, and every family is in
# the first five slots, so even a short run samples each one.
SINGLE_CYCLE = ("or_head or_tail and phrase hybrid or_head or_tail or_head and phrase "
                "or_head or_tail hybrid or_head and or_tail phrase or_head or_tail or_head").split()
# serve_mixed puts one 32-body msearch batch after every second single
# search. This is not a measured traffic share: it gives a 10-s run a few
# batches (one costs about the wall time of 1.3 single searches), so the
# batch figures have a sample.
SERVE_CYCLE = [f for i, fam in enumerate(SINGLE_CYCLE) for f in [fam, "msearch"][: 1 + i % 2]]
# the reads after each merge in ingest_live: one dsl.search per family,
# then two batches
INGEST_CYCLE = "or_head and or_tail phrase msearch msearch".split()
MSEARCH_BATCH = 32
HYBRID_SUBQ_K = 50
# corpus.generate_batch mixes its seed into a uint64 as
# ``seed * 0x100000001B3``, so it takes seeds below 2**24 only; a run's
# seed (any integer) is folded into that range before it reaches the
# generators
GEN_SEEDS = 1 << 24


def gen_seed(seed: int) -> int:
    return seed % GEN_SEEDS


def corpus_frame(seed: int, lo: int, hi: int) -> pd.DataFrame:
    from neural_search_spark.corpus import generate_batch

    ids = np.arange(lo, hi, dtype=np.int64)
    text = generate_batch(ids, seed=gen_seed(seed))["content"].to_numpy(dtype=object)
    return pd.DataFrame({"doc_id": ids, "text": text})


def frame_digest(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for doc_id, text in zip(df["doc_id"].tolist(), df["text"].tolist()):
        h.update(f"{doc_id}\t{text}\n".encode())
    return h.hexdigest()


def cached_corpus(cache_dir: str, seed: int, lo: int, hi: int) -> tuple[str, pd.DataFrame, str]:
    """(parquet path, frame, digest) of docs [lo, hi); generated once per
    (seed, range) and re-verified against its recorded digest on reuse."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"corpus-s{seed}-{lo}-{hi}.parquet")
    if os.path.exists(path) and os.path.exists(path + ".sha256"):
        df = pd.read_parquet(path)
        with open(path + ".sha256") as fh:
            recorded = fh.read().strip()
        if frame_digest(df) == recorded:
            return path, df, recorded
    df = corpus_frame(seed, lo, hi)
    digest = frame_digest(df)
    df.to_parquet(path + ".tmp", index=False)
    os.replace(path + ".tmp", path)
    with open(path + ".sha256", "w") as fh:
        fh.write(digest)
    return path, df, digest


class TermPools:
    """Query vocabulary drawn from a corpus sample, frequency-weighted."""

    def __init__(self, docs: pd.DataFrame, rng: np.random.Generator):
        from neural_search_spark.corpus import KEYWORDS

        keywords = set(KEYWORDS.tolist())
        sample = docs["text"].iloc[: min(len(docs), 200)]
        self.docs_tokens = [TOKEN_RE.findall(t.lower()) for t in sample]
        toks = [t for d in self.docs_tokens for t in d]
        self.head = [t for t in toks if t in keywords]
        nums = [t for t in toks if t.isdigit()]
        self.tail = [t for t in nums if int(t) >= 100]
        self.popular = [t for t in nums if int(t) < 500]
        self.rng = rng

    def pick(self, pool: list[str], n: int = 1) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            t = pool[int(self.rng.integers(len(pool)))]
            if t not in out:
                out.append(t)
        return out

    def phrase(self) -> list[str]:
        toks = self.docs_tokens[int(self.rng.integers(len(self.docs_tokens)))]
        start = int(self.rng.integers(len(toks) - 2))
        return toks[start:start + 3]

    def op(self, family: str) -> dict:
        if family == "or_head":
            return {"family": family, "terms": self.pick(self.head) + self.pick(self.tail)}
        if family == "or_tail":
            return {"family": family, "terms": self.pick(self.tail, 2)}
        if family == "and":
            return {"family": family, "terms": self.pick(self.head) + self.pick(self.popular)}
        if family == "phrase":
            return {"family": family, "terms": self.phrase()}
        if family == "hybrid":
            return {"family": family, "groups": [self.pick(self.head) + self.pick(self.tail),
                                                 self.pick(self.tail, 2)]}
        if family == "msearch":
            batch = [self.pick(self.head) + self.pick(self.tail) for _ in range(MSEARCH_BATCH)]
            # the first body is the one checked against the oracle
            return {"family": family, "batch": batch, "terms": batch[0], "n": len(batch)}
        raise ValueError(family)


def op_stream(docs: pd.DataFrame, seed: int, cycle: list[str], n_ops: int) -> dict:
    """A warm-up of one search and one msearch batch (they pay the query
    path's cold start), then ``n_ops`` ops with families in ``cycle``
    order, all from one seeded generator."""
    pools = TermPools(docs, np.random.default_rng(gen_seed(seed)))
    warmup = [pools.op(cycle[0]), pools.op("msearch")]
    ops = [pools.op(cycle[i % len(cycle)]) for i in range(n_ops)]
    return {"warmup": warmup, "ops": ops}


def stream_digest(stream: dict) -> str:
    return hashlib.sha256(json.dumps(stream, sort_keys=True).encode()).hexdigest()


def pin_digests() -> dict[str, str]:
    """Digests of the fixed-seed corpus sample and of the op streams built
    from it; compared against ``pins.json`` on every run."""
    docs = corpus_frame(PIN_SEED, 0, PIN_DOCS)
    return {
        "corpus": frame_digest(docs),
        "serve_mixed_ops": stream_digest(op_stream(docs, PIN_SEED, SERVE_CYCLE, 60)),
        "ingest_live_ops": stream_digest(op_stream(docs, PIN_SEED, INGEST_CYCLE, 20)),
    }


# --- DuckDB oracle -------------------------------------------------------


def oracle_sql(op: dict, k: int) -> str:
    """The repo's oracle for one op, asking for ``k`` extra rows so that
    score ties at the cut can be resolved."""
    from neural_search_spark import oracle

    fam = op["family"]
    if fam in ("or_head", "or_tail", "msearch"):
        return oracle.bm25_topk_sql(op["terms"], k=2 * k)
    if fam == "and":
        return oracle.bm25_and_topk_sql(op["terms"], k=2 * k)
    if fam == "phrase":
        return oracle.bm25_phrase_sql(op["terms"])
    if fam == "hybrid":
        return oracle.indexed_hybrid_sql(op["groups"], subq_k=HYBRID_SUBQ_K, k=2 * k)
    raise ValueError(fam)


def oracle_rows(corpus_paths: list[str], corpus_digest: str, sql: str,
                cache_dir: str) -> list[tuple[int, float]]:
    """(doc_id, score) rows of ``sql`` over the corpus files, memoized on
    disk by (corpus digest, SQL, DuckDB version)."""
    import duckdb

    key = hashlib.sha256(f"{corpus_digest}\n{duckdb.__version__}\n{sql}".encode()).hexdigest()
    path = os.path.join(cache_dir, f"oracle-{key[:32]}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return [tuple(r) for r in json.load(fh)]
    files = ", ".join(f"'{p}'" for p in corpus_paths)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet([{files}])")
        rows = [(int(r[0]), float(r[1])) for r in con.execute(
            f"SELECT doc_id, score FROM ({sql}) ORDER BY score DESC, doc_id ASC").fetchall()]
    finally:
        con.close()
    with open(path + ".tmp", "w") as fh:
        json.dump(rows, fh)
    os.replace(path + ".tmp", path)
    return rows


def matches_oracle(got: list[tuple[int, float]], want: list[tuple[int, float]], k: int) -> bool:
    """Top-k ids and scores at 4 decimals. The score list must equal the
    oracle's first k scores, and each returned doc must carry its oracle
    score, so docs tied at equal score may come in either order."""
    if len(got) != min(k, len(want)):
        return False
    want_score = dict(want)
    for (doc, score), (_, ref) in zip(got, want):
        if abs(score - ref) > 1e-4 or doc not in want_score or abs(want_score[doc] - score) > 1e-4:
            return False
    return True
