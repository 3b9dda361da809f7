"""Seeded input generator for the benchmark.

Everything here is a pure function of the seed: the same seed gives
byte-identical tables, change batches and corpora. The
generator runs in the benchmark's own process before any timer starts,
and its wall time counts in ``setup_s``.

Tables follow the TPC-H-shaped ``lineitem``/``orders`` schemas with a
unique primary key and an ``xmin`` version column. The document corpus
follows the ``documents`` schema (doc_id, text, lang, source, n_chars)
with planted near-duplicate families.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
N_SOURCES = 20
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
ORDERS_WHERE = "o_orderpriority <> '5-LOW'"
STOPWORDS = ["the", "a", "of", "and", "in", "to"]
BLOCKED = "badword"


def _vocab(rng: np.random.Generator, n: int = 600) -> np.ndarray:
    """Pseudo-words of 3-9 letters; wide enough that unrelated docs
    share almost no word 3-shingles."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, k)))
    return np.array(sorted(words) + STOPWORDS)


# -- CDC source tables ------------------------------------------------


class CdcSource:
    """The two replicated source tables, held in memory and written to
    ``<root>/<table>.parquet`` after every change batch."""

    def __init__(self, seed: int, root: str, n_lineitem: int, n_orders: int):
        self.rng = np.random.default_rng([seed, 1])
        self.root = root
        self.version = 1
        os.makedirs(root, exist_ok=True)
        self.tables = {
            "lineitem": self._lineitem(n_lineitem),
            "orders": self._orders(n_orders),
        }
        self.pk = {"lineitem": "l_id", "orders": "o_orderkey"}
        self.next_key = {t: len(df) for t, df in self.tables.items()}
        for t in self.tables:
            self.write(t)

    def _lineitem(self, n: int) -> pd.DataFrame:
        r = self.rng
        return pd.DataFrame({
            "l_id": np.arange(n, dtype=np.int64),
            "l_orderkey": r.integers(0, max(1, n // 4), n),
            "l_partkey": r.integers(0, 20_000, n),
            "l_suppkey": r.integers(0, 1_000, n),
            "l_linenumber": r.integers(1, 8, n).astype(np.int32),
            "l_quantity": r.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(r.random(n) * 1e5, 2),
            "l_discount": np.round(r.integers(0, 11, n) / 100, 2),
            "l_tax": np.round(r.integers(0, 9, n) / 100, 2),
            "l_returnflag": r.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": r.choice(np.array(["F", "O"]), n),
            "l_shipdate": (
                np.datetime64("1992-01-01")
                + r.integers(0, 2_500, n).astype("timedelta64[D]")
            ).astype("datetime64[us]"),
            "xmin": np.ones(n, dtype=np.int64),
        })

    def _orders(self, n: int) -> pd.DataFrame:
        r = self.rng
        return pd.DataFrame({
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": r.integers(0, 15_000, n),
            "o_orderstatus": r.choice(np.array(["F", "O", "P"]), n),
            "o_totalprice": np.round(r.random(n) * 4e5, 2),
            "o_orderdate": (
                np.datetime64("1992-01-01")
                + r.integers(0, 2_400, n).astype("timedelta64[D]")
            ).astype("datetime64[us]"),
            "o_orderpriority": r.choice(PRIORITIES, n),
            "xmin": np.ones(n, dtype=np.int64),
        })

    def write(self, table: str) -> None:
        path = os.path.join(self.root, f"{table}.parquet")
        tmp = path + ".tmp"
        pq.write_table(
            pa.Table.from_pandas(self.tables[table], preserve_index=False),
            tmp,
        )
        os.replace(tmp, path)

    def change_batch(self, frac: float) -> None:
        """Apply one seeded change batch of ``frac`` of each table's
        rows: 70% updates (new payload, higher xmin), 20% inserts, 10%
        deletes, keys scattered."""
        self.version += 1
        for t, df in self.tables.items():
            n = max(10, int(round(len(df) * frac)))
            n_upd, n_ins = int(n * 0.7), int(n * 0.2)
            n_del = n - n_upd - n_ins
            pick = self.rng.choice(len(df), n_upd + n_del, replace=False)
            upd, dele = pick[:n_upd], pick[n_upd:]
            df = df.copy()
            if t == "lineitem":
                df.iloc[upd, df.columns.get_loc("l_quantity")] = (
                    self.rng.integers(1, 51, n_upd).astype(np.float64)
                )
            else:
                df.iloc[upd, df.columns.get_loc("o_orderpriority")] = (
                    self.rng.choice(PRIORITIES, n_upd)
                )
            df.iloc[upd, df.columns.get_loc("xmin")] = self.version
            new = (self._lineitem if t == "lineitem" else self._orders)(n_ins)
            new[self.pk[t]] = np.arange(
                self.next_key[t], self.next_key[t] + n_ins, dtype=np.int64
            )
            new["xmin"] = self.version
            self.next_key[t] += n_ins
            df = pd.concat(
                [df.drop(df.index[dele]), new], ignore_index=True
            )
            self.tables[t] = df
            self.write(t)

    def expected(self, table: str) -> pd.DataFrame:
        """The rows the target must hold: the source after its filter."""
        df = self.tables[table]
        if table == "orders":
            df = df[df["o_orderpriority"] != "5-LOW"]
        return df


# -- document corpus -------------------------------------------------


def _doc_text(rng, vocab, n_words: int) -> str:
    words = list(rng.choice(vocab[:-len(STOPWORDS)], n_words))
    # >= 2 distinct stopwords, so the Gopher stopword rule has mixed
    # outcomes driven by length and stopword count
    n_stop = int(rng.integers(0, 6))
    for s in rng.choice(STOPWORDS, n_stop):
        words[int(rng.integers(0, n_words))] = s
    return " ".join(words)


def near_copy(rng, vocab, text: str, edit: float = 0.1) -> str:
    """One contiguous run of ~``edit`` of the words replaced: a
    rewritten sentence, not scattered typos, so word 3-shingle Jaccard
    stays near 0.8 and the copy is a clear near-duplicate."""
    words = text.split()
    k = max(1, int(round(len(words) * edit)))
    at = int(rng.integers(0, max(1, len(words) - k)))
    words[at:at + k] = list(rng.choice(vocab[:-len(STOPWORDS)], k))
    return " ".join(words)


def _frame(ids, texts, langs, sources) -> pd.DataFrame:
    return pd.DataFrame({
        "doc_id": np.asarray(ids, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def corpus(seed: int, n_docs: int, dup_share: float = 0.2) -> tuple[pd.DataFrame, dict]:
    """``n_docs`` base documents; ``dup_share`` of them get 1-3 near
    copies (new doc_ids, same lang and source). About 1% carry the
    blocklisted word. Returns the frame and the planted-family record
    {keeper candidate ids: [copy ids]}."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng)
    lens = rng.integers(30, 110, n_docs)
    texts = [_doc_text(rng, vocab, int(k)) for k in lens]
    for i in rng.choice(n_docs, max(1, n_docs // 100), replace=False):
        texts[i] = texts[i] + " " + BLOCKED
    langs = rng.choice(LANGS, n_docs, p=LANG_P)
    sources = np.array([f"src{i % N_SOURCES}" for i in range(n_docs)])
    ids = list(range(n_docs))
    families: dict[int, list[int]] = {}
    next_id = n_docs
    extra_t, extra_l, extra_s, extra_i = [], [], [], []
    for base in rng.choice(n_docs, int(n_docs * dup_share), replace=False):
        fam = []
        for _ in range(int(rng.integers(1, 4))):
            extra_t.append(near_copy(rng, vocab, texts[base]))
            extra_l.append(langs[base])
            extra_s.append(sources[base])
            extra_i.append(next_id)
            fam.append(next_id)
            next_id += 1
        families[int(base)] = fam
    df = _frame(
        ids + extra_i, texts + extra_t,
        np.concatenate([langs, np.array(extra_l, dtype=object)]),
        np.concatenate([sources, np.array(extra_s, dtype=object)]),
    )
    # shuffle rows so copies do not sit next to their originals
    df = df.iloc[rng.permutation(len(df))].reset_index(drop=True)
    return df, families


def write_parquet(df: pd.DataFrame, path: str) -> int:
    """Write atomically (tmp + rename: a reader never sees a
    half-written file). Returns bytes written."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), tmp)
    os.replace(tmp, path)
    return os.path.getsize(path)


# -- ingest files ------------------------------------------------------


def ingest_files(seed: int, n_files: int, n_fresh: int, dup_share: float = 0.1):
    """``n_files`` document files for the streaming ingest, in arrival
    order. File ``i`` holds ``n_fresh`` new documents, near copies of
    ``dup_share`` of them (planted within-file duplicates) and, from
    the second file on, near copies of as many documents of earlier
    files (planted near-duplicates of accepted docs). A copy always
    has a higher ``doc_id`` than its original. Returns the frames and
    ``{"within": [ids], "cross": [ids]}``."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng)
    files, planted = [], {"within": [], "cross": []}
    earlier: list[tuple[str, str, str]] = []
    next_id = 0
    for i in range(n_files):
        fresh = []
        for _ in range(n_fresh):
            text = _doc_text(rng, vocab, int(rng.integers(50, 110)))
            lang = str(rng.choice(LANGS, p=LANG_P))
            fresh.append((text, lang, f"src{int(rng.integers(0, N_SOURCES))}"))
        n_dup = max(1, int(n_fresh * dup_share))
        rows = [(next_id + k, *d) for k, d in enumerate(fresh)]
        next_id += n_fresh
        for kind, pool in (("within", fresh), ("cross", earlier)):
            if not pool:
                continue
            for j in rng.choice(len(pool), min(n_dup, len(pool)), replace=False):
                text, lang, src = pool[int(j)]
                rows.append((next_id, near_copy(rng, vocab, text), lang, src))
                planted[kind].append(next_id)
                next_id += 1
        earlier += fresh
        ids, texts, langs, sources = zip(*rows)
        df = _frame(ids, list(texts), np.array(langs), np.array(sources))
        files.append(df.iloc[rng.permutation(len(df))].reset_index(drop=True))
    return files, planted
