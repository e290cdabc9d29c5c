"""Seeded, vectorized input generators for the benchmark.

``write_tables`` writes the ten registry tables (TPC-H-style star schema
plus ``events``, ``documents`` and ``embeddings``) as one parquet file
each, at a given scale factor, with the row counts, parquet schemas and
column ranges of the testdata tables described in TESTDATA.md
(``datacheck.py`` compares the two). ``write_corpus`` writes the
MapReduce text corpus: Zipf prose mixed with crawler-log lines in
``log_analyzer_map``'s ``date time crawler url`` format. Everything is
numpy-vectorized and drawn from one ``numpy.random.Generator``, so the
same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_ADJ = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
_NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_DOC_WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window".split()
)
_LANGS = np.array(["en", "zh", "es", "fr", "de"])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _write(out_dir: str, name: str, df: pd.DataFrame) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Word-salad documents of 10-100 words; 5% are near-duplicates (an
    earlier document plus a trailing ``dup`` token) for the dedup family."""
    lengths = rng.integers(10, 101, n)
    words = _DOC_WORDS[rng.integers(0, len(_DOC_WORDS), int(lengths.sum()))]
    bounds = np.cumsum(lengths)[:-1]
    text = np.array([" ".join(w) for w in np.split(words, bounds)], dtype=object)
    dup = np.flatnonzero(rng.random(n) < 0.05)
    dup = dup[dup > 0]
    text[dup] = [text[rng.integers(0, i)] + " dup" for i in dup]
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": text,
            "lang": _LANGS[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
            "source": np.char.add("src", (ids % 20).astype(str)),
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write region, nation, customer, supplier, part, orders, lineitem,
    events, documents and embeddings at scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    i32 = np.int32

    _write(out_dir, "region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    nk = np.arange(25, dtype=i32)
    _write(out_dir, "nation", pd.DataFrame({
        "n_nationkey": nk,
        "n_name": np.char.add("NATION_", nk.astype(str)),
        "n_regionkey": (nk % 5).astype(i32),
    }))

    n_cust = int(150_000 * sf)
    ck = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer", pd.DataFrame({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
    }))

    n_supp = int(10_000 * sf)
    sk = np.arange(n_supp, dtype=np.int64)
    _write(out_dir, "supplier", pd.DataFrame({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }))

    n_part = int(200_000 * sf)
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", pd.DataFrame({
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(_ADJ[rng.integers(0, 8, n_part)], " "),
            _NOUN[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": _TYPES[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }))

    n_ord = int(1_500_000 * sf)
    _write(out_dir, "orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)],
    }))

    n_li = int(6_000_000 * sf)
    _write(out_dir, "lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    }))

    # events: strictly increasing microsecond timestamps over 30 days
    n_ev = int(1_000_000 * sf)
    month_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.choice(month_us, n_ev, replace=False))
    _write(out_dir, "events", pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev),
        "event_type": _EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"),
    }))

    _write(out_dir, "documents", _documents(rng, max(500, int(50_000 * sf))))

    n_emb = max(500, int(20_000 * sf))
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(i32)),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


# -- MapReduce corpus ------------------------------------------------------

_SCHEMES = np.array(["http://", "https://", ""])
_HOSTS = np.array(
    [
        "www.example.com", "news.site.org", "a.b.c.example.net", "example.org",
        "shop.example.com", "docs.python.org", "mirror.eu.kernel.org", "blog.io",
        "10.0.0.1:8080", "192.168.1.20:443", "172.16.5.9", "8.8.8.8:53",
    ]
)
_PATHS = np.array(
    [
        "", "/", "/index.html", "/a/b/c", "/search?q=spark", "/p?x=1&y=2",
        "/doc#intro", "/page#top?x", "/img/logo.png", "/?ref=home",
    ]
)


def _zipf_vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` pronounceable pseudo-words, some capitalized or carrying
    punctuation/digits so word_count's lower+strip path has work to do."""
    syl = np.array(["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "xi"])
    k = rng.integers(1, 4, n)
    parts = syl[rng.integers(0, len(syl), (n, 3))]
    words = np.where(k >= 2, np.char.add(parts[:, 0], parts[:, 1]), parts[:, 0])
    words = np.where(k == 3, np.char.add(words, parts[:, 2]), words)
    words = np.char.add(words, np.char.mod("%d", np.arange(n) % 97))
    cap = rng.random(n) < 0.1
    words = np.where(cap, np.char.capitalize(words), words)
    punct = np.array(["", "", "", "", ",", ".", "!", "'s", "--"])
    return np.char.add(words, punct[rng.integers(0, len(punct), n)])


def write_corpus(path: str, n_bytes: int, seed: int) -> int:
    """Write ~``n_bytes`` of ASCII text: 70% prose lines (Zipf words, some
    empty lines) and 30% crawler-log lines covering every URL
    normalization branch of ``log_analyzer_map`` (http/https/no scheme,
    IP:port and bare IP, multi-dot hosts, ``?``/``#`` paths). Returns the
    byte size written."""
    rng = np.random.default_rng([seed, 2])
    n_lines = max(16, n_bytes // 48)
    is_log = rng.random(n_lines) < 0.3

    vocab = _zipf_vocab(rng, 4000)
    n_prose = int((~is_log).sum())
    lengths = rng.integers(0, 15, n_prose)  # 0 -> empty line
    ranks = np.minimum(rng.zipf(1.3, int(lengths.sum())) - 1, len(vocab) - 1)
    words = vocab[ranks]
    prose = [" ".join(w) for w in np.split(words, np.cumsum(lengths)[:-1])]

    n_log = int(is_log.sum())
    day = np.char.add("2024-03-", np.char.zfill(rng.integers(1, 29, n_log).astype(str), 2))
    hms = np.char.add(np.char.zfill(rng.integers(0, 24, n_log).astype(str), 2), ":00:00")
    crawler = np.char.add("crawler", rng.integers(0, 20, n_log).astype(str))
    url = np.char.add(
        np.char.add(_SCHEMES[rng.integers(0, 3, n_log)], _HOSTS[rng.integers(0, len(_HOSTS), n_log)]),
        _PATHS[rng.integers(0, len(_PATHS), n_log)],
    )
    logs = np.char.add(np.char.add(np.char.add(np.char.add(day, " "), hms), " "), crawler)
    logs = np.char.add(np.char.add(logs, " "), url)

    lines = np.empty(n_lines, dtype=object)
    lines[~is_log] = prose
    lines[is_log] = logs
    data = ("\n".join(lines) + "\n").encode("ascii")
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)
