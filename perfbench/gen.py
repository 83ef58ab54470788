"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes the same bytes. Nothing here imports Spark; the program
under test only ever sees the files and rows these functions produce.
"""

from __future__ import annotations

import os
import string
from dataclasses import dataclass, field

import numpy as np

_LETTERS = np.array(list(string.ascii_lowercase))


def vocabulary(seed: int, size: int) -> list[str]:
    """``size`` distinct letter-only words (the reference tokenizer splits on
    non-letters, so digits would collapse keys)."""
    rng = np.random.default_rng([seed, 1])
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(3, 10))
        w = "".join(rng.choice(_LETTERS, n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_weights(size: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, size + 1) ** s
    return w / w.sum()


# ---------------------------------------------------------------- mr_jobs


def zipf_corpus(
    seed: int,
    out_dir: str,
    n_files: int,
    words_per_file: int,
    vocab_size: int,
    s: float = 1.1,
    words_per_line: int = 12,
) -> list[str]:
    """Whole text files of Zipf-distributed words, the shape the reference
    MR apps read (``pg-*.txt``). Line-initial words are capitalised, which
    the case-sensitive reference tokenizer keeps as distinct keys."""
    vocab = np.array(vocabulary(seed, vocab_size))
    p = zipf_weights(vocab_size, s)
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for f in range(n_files):
        words = vocab[rng.choice(vocab_size, words_per_file, p=p)]
        lines = []
        for i in range(0, words_per_file, words_per_line):
            line = words[i : i + words_per_line].tolist()
            line[0] = line[0].capitalize()
            lines.append(" ".join(line) + ".")
        path = os.path.join(out_dir, f"pg-{f}.txt")
        with open(path, "w", encoding="ascii") as fh:
            fh.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths


# ----------------------------------------------------------- dedup_ingest


@dataclass
class Batch:
    """One ``(doc_id, text, embedding)`` micro-batch plus what was planted.

    ``exact``/``edit``/``para`` map a planted duplicate's doc_id to the
    doc_id of its original, which is always a unique doc of an EARLIER
    batch (within-batch self-dedup is upstream of the sink)."""

    batch_id: int
    doc_ids: list[int]
    texts: list[str]
    embeddings: list[list[float]]
    unique: list[int] = field(default_factory=list)
    exact: dict[int, int] = field(default_factory=dict)
    edit: dict[int, int] = field(default_factory=dict)
    para: dict[int, int] = field(default_factory=dict)

    def input_bytes(self) -> int:
        """Bytes of text (UTF-8) plus embeddings (8 bytes per double)."""
        return sum(len(t.encode()) for t in self.texts) + 8 * sum(
            len(e) for e in self.embeddings
        )


class DedupStream:
    """Deterministic stream of ingest batches for one seed.

    Batch 0 holds only unique docs. Each later batch holds
    ``dup_share`` planted duplicates of unique docs from earlier batches,
    split evenly between byte-identical re-fetches (the exact tier),
    one- or two-word edits (Jaccard > 0.8 on word 3-shingles: the MinHash
    tier) and paraphrases with fresh words but an embedding at cosine
    ~0.9 to the original (the semantic tier). Unique docs draw their words
    from a 20k-word Zipf vocabulary, so their shingle sets are disjoint,
    and their embeddings from an isotropic Gaussian, redrawn until the
    cosine to every earlier doc is below ``max_unique_cos`` (under the
    semantic tier's threshold). No unique doc is a duplicate of another.

    Batches must be requested in order (``batch(0)``, ``batch(1)``, ...):
    originals are drawn from the uniques generated so far."""

    def __init__(
        self,
        seed: int,
        batch_docs: int,
        dim: int = 128,
        dup_share: float = 0.3,
        vocab_size: int = 20_000,
        doc_words: tuple[int, int] = (60, 120),
        max_unique_cos: float = 0.35,
    ):
        self.seed = seed
        self.batch_docs = batch_docs
        self.dim = dim
        self.dup_share = dup_share
        self.vocab = np.array(vocabulary(seed, vocab_size))
        self.p = zipf_weights(vocab_size, 1.0)
        self.doc_words = doc_words
        self.max_unique_cos = max_unique_cos
        self._originals: list[tuple[int, list[str], np.ndarray]] = []
        # unit embeddings of every doc so far, rows [0, _n) of a growing buffer
        self._units = np.empty((1024, dim))
        self._n = 0
        self._next = 0

    def _words(self, rng, n: int) -> list[str]:
        return self.vocab[rng.choice(len(self.vocab), n, p=self.p)].tolist()

    def _unit(self, v: np.ndarray) -> np.ndarray:
        return v / np.linalg.norm(v)

    def _far_embedding(self, rng, tries: int = 1000) -> np.ndarray:
        for _ in range(tries):
            emb = rng.standard_normal(self.dim)
            if not self._n or (self._units[: self._n] @ self._unit(emb)).max() < self.max_unique_cos:
                return emb
        raise ValueError(
            f"no embedding within cosine {self.max_unique_cos} of {self._n} docs "
            f"after {tries} draws: raise dim ({self.dim})"
        )

    def batch(self, b: int) -> Batch:
        if b != self._next:
            raise ValueError(f"batches are generated in order: expected {self._next}, got {b}")
        self._next += 1
        rng = np.random.default_rng([self.seed, 3, b])
        n_dup = 0 if b == 0 else int(self.batch_docs * self.dup_share)
        n_dup -= n_dup % 3
        kinds = ["exact", "edit", "para"] * (n_dup // 3) + ["unique"] * (
            self.batch_docs - n_dup
        )
        rng.shuffle(kinds)
        originals = (
            rng.choice(len(self._originals), n_dup, replace=False) if n_dup else []
        )
        out = Batch(b, [], [], [])
        new_uniques = []
        oi = iter(originals)
        for i, kind in enumerate(kinds):
            doc_id = b * self.batch_docs + i
            if kind == "unique":
                words = self._words(rng, int(rng.integers(*self.doc_words)))
                emb = self._far_embedding(rng)
                new_uniques.append((doc_id, words, emb))
                out.unique.append(doc_id)
            else:
                orig_id, orig_words, orig_emb = self._originals[next(oi)]
                if kind == "exact":
                    words, emb = orig_words, orig_emb
                    out.exact[doc_id] = orig_id
                elif kind == "edit":
                    words = list(orig_words)
                    # 1-2 substitutions at least 3 apart: with >= 60 words
                    # the 3-shingle Jaccard stays >= 52/64 > 0.8
                    n_sub = int(rng.integers(1, 3))
                    pos = rng.choice(len(words) // 3, n_sub, replace=False) * 3
                    for j, w in zip(pos, self._words(rng, n_sub)):
                        words[j] = w + "q"  # never equal to the word it replaces
                    emb = self._unit(orig_emb) + 0.05 * self._unit(
                        rng.standard_normal(self.dim)
                    )
                    out.edit[doc_id] = orig_id
                else:
                    words = self._words(rng, int(rng.integers(*self.doc_words)))
                    emb = self._unit(orig_emb) + 0.45 * self._unit(
                        rng.standard_normal(self.dim)
                    )
                    out.para[doc_id] = orig_id
            out.doc_ids.append(doc_id)
            out.texts.append(" ".join(words))
            out.embeddings.append([float(x) for x in emb])
            if self._n == len(self._units):
                self._units = np.vstack([self._units, np.empty_like(self._units)])
            self._units[self._n] = self._unit(emb)
            self._n += 1
        self._originals.extend(new_uniques)
        return out

    def codebook_corpus(self, n: int) -> list[tuple[int, list[float]]]:
        """``(vec_id, embedding)`` rows the codebook is fitted on at set-up,
        drawn from the same distribution as the unique docs."""
        rng = np.random.default_rng([self.seed, 4])
        return [(i, [float(x) for x in rng.standard_normal(self.dim)]) for i in range(n)]


# ---------------------------------------------------------- analytics_mix

def _day_range(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")


def analytics_tables(seed: int, out_dir: str, sf: float) -> list[str]:
    """The synthetic star schema the registry's analytics builders read
    (``<table>.parquet`` per table, the catalog layout), at scale factor
    ``sf``: customer 150k·sf, orders 1.5M·sf, lineitem 6M·sf, events
    1M·sf rows over 15k·sf users and 30 days, documents 50k·sf. Column
    types and value domains follow the catalog's tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 5])
    n_cust, n_ord, n_li = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users, n_docs = int(1_000_000 * sf), int(15_000 * sf), int(50_000 * sf)
    n_part, n_supp = int(200_000 * sf), int(10_000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n, p=None):
        return pa.array(np.array(values)[rng.choice(len(values), n, p=p)])

    tables = {
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": pick(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    n_cust,
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": pick(["O", "P", "F"], n_ord),
                "o_totalprice": money(1000.0, 500000.0, n_ord),
                "o_orderdate": pa.array(
                    _day_range(rng, n_ord, "1995-01-01", "2001-08-01"), pa.timestamp("us")
                ),
                "o_orderpriority": pick(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": money(900.0, 105000.0, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": pick(["A", "N", "R"], n_li),
                "l_linestatus": pick(["O", "F"], n_li),
                "l_shipdate": pa.array(
                    _day_range(rng, n_li, "1995-01-02", "2001-11-04"), pa.timestamp("us")
                ),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": pa.array(
                    np.datetime64("2024-01-01T00:00:00", "us")
                    + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype(
                        "timedelta64[us]"
                    ),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
                "event_type": pick(["view", "click", "purchase", "signup", "error"], n_ev),
                "value": money(0.0, 560.0, n_ev),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
    }
    doc_vocab = vocabulary(seed + 1, 31)
    texts = [
        " ".join(np.array(doc_vocab)[rng.integers(0, 31, int(rng.integers(8, 100)))])
        for _ in range(n_docs)
    ]
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": pick(["en", "es", "zh", "de", "fr"], n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return sorted(tables)
