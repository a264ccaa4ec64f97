"""Seeded input generators for the benchmark, each with its ground truth.

Every generator writes into ``perfbench/data/<kind>-s<seed>-<size>/`` and
stores its ground truth (``truth.json``) next to the data. A directory is
built in a temporary sibling and renamed into place once complete, so a
directory that exists is always whole; the same seed and size reuse it.

- :func:`text_corpus` — Zipf-distributed lines for the two reference jobs.
  Truth: the 26 letter counts and the finder's matching-line count from
  the package's pure-Python oracle of the ``[^0-9A-Za-z]`` boundary rule
  (``jobs.word_finder.word_finder_python``).
- :func:`dedup_corpus` — documents with planted near-duplicate chains.
  Truth: the planted clusters.
- :func:`star_tables` — the star-schema tables the registry queries read.
  Truth: each query's DuckDB twin result, canonicalized (see ``check.py``).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import string
from pathlib import Path

import numpy as np

DATA_DIR = Path(__file__).resolve().parent / "data"

FINDER_WORD = "the"


def _cached(name: str, build) -> Path:
    """Return ``DATA_DIR/name``, building it with ``build(tmp_dir)`` first
    if it does not exist yet."""
    out = DATA_DIR / name
    if (out / "truth.json").exists():
        return out
    tmp = DATA_DIR / f".{name}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    try:
        build(tmp)
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def load_truth(path: Path) -> dict:
    with open(path / "truth.json") as f:
        return json.load(f)


def _write_truth(path: Path, truth: dict) -> None:
    with open(path / "truth.json", "w") as f:
        json.dump(truth, f)


def _random_words(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """``n`` distinct lower-case words of ``lo``..``hi`` letters."""
    letters = np.array(list(string.ascii_lowercase))
    words: set[str] = set()
    while len(words) < n:
        k = n - len(words)
        lens = rng.integers(lo, hi + 1, size=k)
        chars = letters[rng.integers(0, 26, size=(k, hi))]
        words.update("".join(row[:m]) for row, m in zip(chars, lens))
    return sorted(words)[:n]


# ---------------------------------------------------------------------------
# text corpus
# ---------------------------------------------------------------------------

def _text_vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    """Vocabulary whose rank-0 token is the finder word, with decorated
    variants that exercise the boundary rule: ``_``-adjacent (a match),
    digit-adjacent and letter-adjacent (no match), punctuation-adjacent
    (a match) and a capitalized form (no match: the rule is
    case-sensitive)."""
    w = FINDER_WORD
    specials = [
        w, f"_{w}", f"{w}_", f"{w}9", f"3{w}", f"{w}'", f"`{w}",
        f"{w.capitalize()}", f"{w}re", f"o{w}r", f"{w},", f"({w})",
    ]
    base = _random_words(rng, size, 1, 9)
    decorated = []
    for i, word in enumerate(base):
        r = i % 11
        if r == 0:
            word = word.capitalize()
        elif r == 1:
            word = word + ","
        elif r == 2:
            word = word + "_x" if i % 2 else word + "7"
        elif r == 3:
            word = "'" + word
        decorated.append(word)
    # specials interleaved at the head so they all get Zipf mass
    vocab = [specials[0]]
    for a, b in zip(decorated, specials[1:]):
        vocab += [a, b]
    vocab += decorated[len(specials) - 1:]
    return np.array(vocab, dtype=object)


def text_corpus(seed: int, mb: float) -> Path:
    """Line corpus of about ``mb`` MB (lines of at most ~80 characters)."""
    def build(tmp: Path) -> None:
        from map_reduce_implementation_spark.jobs.word_finder import word_finder_python

        rng = np.random.default_rng([seed, 1])
        vocab = _text_vocab(rng, 20000)
        target = int(mb * 1_000_000)
        # Zipf(1.1) ranks, folded into the vocabulary
        n_tok = target // 5
        ranks = (rng.zipf(1.1, size=n_tok) - 1) % len(vocab)
        toks = vocab[ranks]
        lines: list[str] = []
        i, total = 0, 0
        per_line = rng.integers(6, 14, size=n_tok // 6 + 1)
        j = 0
        while total < target and i < n_tok:
            k = int(per_line[j])
            j += 1
            line = " ".join(toks[i:i + k])
            if len(line) > 80:
                line = line[:80].rstrip()
            lines.append(line)
            total += len(line) + 1
            i += k
        text = "\n".join(lines) + "\n"
        raw = text.encode("ascii")
        (tmp / "corpus.txt").write_bytes(raw)
        a = np.frombuffer(raw, dtype=np.uint8) & 0xDF
        hist = np.bincount(a[(a >= 65) & (a <= 90)], minlength=91)[65:91]
        _write_truth(tmp, {
            "bytes": len(raw),
            "lines": len(lines),
            "letters": {chr(65 + i): int(c) for i, c in enumerate(hist)},
            "finder_word": FINDER_WORD,
            "finder_lines": len(word_finder_python(lines, FINDER_WORD)),
        })

    return _cached(f"text-s{seed}-{mb:g}mb", build)


# ---------------------------------------------------------------------------
# dedup corpus
# ---------------------------------------------------------------------------

DEDUP_MAX_CHAIN = 5  # longest planted chain: sets the connected-components rounds
CHAIN_EDITS = 3  # word substitutions between adjacent chain members
MIN_WORDS = 140  # with 3 edits: Jaccard(w=5) >= (136-15)/(136+15) > 0.8


def dedup_corpus(seed: int, n_docs: int) -> Path:
    """``n_docs`` documents in planted chains of 1..``DEDUP_MAX_CHAIN`` members.

    Each chain starts from a fresh document of ``MIN_WORDS``..200 words
    drawn from a 200k-word vocabulary; each next member copies the
    previous one with ``CHAIN_EDITS`` words replaced at positions at least
    five apart. A replacement changes at most 5 of the w=5 shingles, so
    adjacent members keep Jaccard >= 0.8 and an LSH miss (32 bands x 4
    rows) is below 1e-7 per pair, while documents of different chains
    share essentially no shingles. Document ids are shuffled so a chain's
    minimum id sits anywhere along it."""
    def build(tmp: Path) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng([seed, 2])
        vocab = np.array(_random_words(rng, 200_000, 4, 10), dtype=object)
        texts: list[str] = []
        chain_of: list[int] = []
        c = 0
        while len(texts) < n_docs:
            length = min(int(rng.integers(1, DEDUP_MAX_CHAIN + 1)), n_docs - len(texts))
            words = vocab[rng.integers(0, len(vocab), size=int(rng.integers(MIN_WORDS, 201)))]
            for m in range(length):
                if m:
                    words = words.copy()
                    slots = rng.permutation(len(words) // 5)[:CHAIN_EDITS] * 5
                    words[slots] = vocab[rng.integers(0, len(vocab), size=CHAIN_EDITS)]
                texts.append(" ".join(words))
                chain_of.append(c)
            c += 1
        ids = rng.permutation(n_docs).astype(np.int64)
        pq.write_table(
            pa.table({"doc_id": ids, "text": texts}), tmp / "documents.parquet"
        )
        clusters: dict[int, list[int]] = {}
        for doc, ch in zip(ids.tolist(), chain_of):
            clusters.setdefault(ch, []).append(doc)
        _write_truth(tmp, {
            "docs": n_docs,
            "clusters": sorted(sorted(m) for m in clusters.values()),
        })

    return _cached(f"dedup-s{seed}-{n_docs}d", build)


# ---------------------------------------------------------------------------
# star-schema tables
# ---------------------------------------------------------------------------

_DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _dates(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, size=n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0


def make_tables(seed: int, sf: float) -> dict:
    """The ten star-schema tables at scale factor ``sf`` as pyarrow tables
    (row counts and value domains follow the suite's TPC-H-like data)."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(100_000 * sf)
    n_doc = 500

    def pick(choices, n, p=None):
        return np.array(choices, dtype=object)[rng.choice(len(choices), size=n, p=p)]

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": pick(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    adjs = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
    nouns = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(pick(adjs, n_part), pick(nouns, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, size=n_part)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
        "p_retailprice": (9000 + pk % 1000) / 10.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, size=n_ord).astype(np.int64),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, size=n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, size=n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, size=n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, size=n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": np.round(rng.integers(0, 11, size=n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, size=n_line) / 100.0, 2),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _dates(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(
            (start + np.sort(rng.integers(0, span, size=n_ev))).astype("datetime64[us]")
        ),
        "user_id": rng.integers(0, max(int(15_000 * sf), 150), size=n_ev).astype(np.int64),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.maximum(np.round(rng.lognormal(3.5, 1.0, size=n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 91))
            texts.append(" ".join(pick(_DOC_WORDS, n)))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(["en", "es", "zh", "de", "fr"], n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, size=n_doc)
    centers = rng.normal(0.0, 1.0, size=(10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, size=(n_doc, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def star_tables(seed: int, sf: float, queries: list[str]) -> Path:
    """Parquet tables at ``sf`` plus the DuckDB twin result of each query
    in ``queries`` (canonical rows, see ``check.canonical_rows``)."""
    def build(tmp: Path) -> None:
        import duckdb
        import pyarrow.parquet as pq

        from perfbench.check import canonical_rows
        from map_reduce_implementation_spark.suite import all_queries

        for name, tbl in make_tables(seed, sf).items():
            pq.write_table(tbl, tmp / f"{name}.parquet")
        reg = all_queries()
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for name in sorted(f.stem for f in tmp.glob("*.parquet")):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{tmp}/{name}.parquet'")
        oracles = {}
        for q in queries:
            rel = con.execute(reg[q].oracle)
            cols = [d[0] for d in rel.description]
            oracles[q] = {
                "columns": sorted(cols),
                "rows": canonical_rows(cols, rel.df()),
            }
        con.close()
        _write_truth(tmp, {"sf": sf, "queries": queries, "oracles": oracles})

    key = hashlib.sha1(" ".join(queries).encode()).hexdigest()[:8]
    return _cached(f"tables-s{seed}-sf{sf:g}-{key}", build)
