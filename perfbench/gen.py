"""Seeded input generators. Everything the engine sees comes from here.

The same seed gives byte-identical inputs. Sizes are fixed by the caller, so
a seed changes only the content: word choice, labels, which ids are re-sent,
which lines are malformed.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Measured on the engine's testdata at sf0.1 with
# ``python3 perfbench/calibrate.py <testdata>/sf0.1`` (README.md, "Inputs").
# The testdata corpus vocabulary: 30 words, drawn uniformly.
NEUTRAL = ("batch part spark line column order small sort fast value scan "
           "hash slow group agg filter query a the big key window row table "
           "stream merge data join vector customer").split()
DOC_WORDS = (10, 100)          # words per document, uniform, end exclusive
DOC_LANGS = {"en": 0.412, "zh": 0.151, "es": 0.149, "fr": 0.148, "de": 0.140}
# Documents that are another's text + " dup", and documents that repeat
# another's text. Two near copies of one document also repeat each other,
# so the planted exact share is the measured 0.16% less those (0.06%).
NEAR_COPY_SHARE = 0.0486
EXACT_COPY_SHARE = 0.001
EVENT_VALUE_MEAN = 50.0        # events.value is exponential, 2 decimals
# Row counts of the testdata tables; ``users`` is events.user_id's range.
ROWS = {
    "sf0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                  lineitem=600000, events=100000, users=1500,
                  documents=5000, embeddings=2000),
    "sf0.01": dict(customer=1500, supplier=100, part=2000, orders=15000,
                   lineitem=60000, events=10000, users=150,
                   documents=500, embeddings=500),
}

# Not in the testdata: its texts hold no sentiment-bearing word, so every
# row would score neutral and the scorer's label branches would never run.
# Tweet texts mix lexicon words into the corpus vocabulary at these shares.
POSITIVE = ("good great love happy excellent awesome nice best win amazing "
            "fantastic wonderful glad fun cool").split()
NEGATIVE = ("bad awful hate sad terrible worst fail broken angry horrible "
            "poor ugly slow crash annoying").split()
MODIFIERS = ("not very really extremely never").split()
BASE_EPOCH_MS = 1767225600000          # 2026-01-01T00:00:00Z


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding one input never
    shifts another's content for the same seed."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def _pool(shares: dict[tuple[str, ...], float]):
    vocab = np.array([w for pool in shares for w in pool], dtype=object)
    p = np.concatenate([np.full(len(pool), s / len(pool))
                        for pool, s in shares.items()])
    return vocab, p / p.sum()


_CORPUS = _pool({tuple(NEUTRAL): 1.0})
_TWEET = _pool({tuple(POSITIVE): 0.14, tuple(NEGATIVE): 0.14,
                tuple(NEUTRAL): 0.64, tuple(MODIFIERS): 0.08})


def _sentences(rng: np.random.Generator, n: int, pool=_CORPUS) -> list[str]:
    """``n`` texts of DOC_WORDS words each, drawn from ``pool``."""
    vocab, p = pool
    lens = rng.integers(*DOC_WORDS, size=n)
    words = vocab[rng.choice(len(vocab), size=int(lens.sum()), p=p)]
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(w) for w in np.split(words, cuts)]


def _langs(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.choice(list(DOC_LANGS), size=n, p=list(DOC_LANGS.values()))


# ---------------------------------------------------------------------------
# ingest: a backlog of Kafka-style envelopes as JSONL files
# ---------------------------------------------------------------------------

# Re-sends take the testdata's share of repeated documents; languages follow
# its documents. Malformed lines have no source in the testdata (it has
# none): one line in a hundred keeps the parser's reject branch in every
# micro-batch.
RESEND_SHARE = NEAR_COPY_SHARE + EXACT_COPY_SHARE
MALFORMED_SHARE = 0.01


@dataclass(frozen=True)
class BacklogSpec:
    files: int
    lines_per_file: int


@dataclass(frozen=True)
class Backlog:
    path: str
    envelopes: int                 # parseable lines, re-sends included


def write_backlog(path: str, spec: BacklogSpec, seed: int) -> Backlog:
    rng = _rng(seed, "backlog")
    os.makedirs(path, exist_ok=True)
    n_lines = spec.files * spec.lines_per_file
    texts = iter(_sentences(rng, n_lines, _TWEET))
    langs = iter(_langs(rng, n_lines))
    sent: list[str] = []
    malformed = 0
    n = 0
    for f in range(spec.files):
        out = []
        for _ in range(spec.lines_per_file):
            n += 1
            r = rng.random()
            if r < MALFORMED_SHARE:
                malformed += 1
                out.append('{"data": {"text": "no id"}, "kafka_timestamp": 1}'
                           if rng.random() < 0.5 else
                           '{"data": {"id": "' + str(n) + '", "text": ')
                continue
            if sent and r < MALFORMED_SHARE + RESEND_SHARE:
                # re-sent within the last few hundred messages: well inside
                # the 1-hour dedup watermark
                out.append(sent[-1 - int(rng.integers(min(len(sent), 400)))])
                continue
            lang = str(next(langs))
            author = str(int(rng.integers(1000)))
            ts_ms = BASE_EPOCH_MS + n * 50
            env = {
                "data": {
                    "id": str(seed * 10**9 + n),
                    "text": next(texts),
                    "created_at": dt.datetime.fromtimestamp(
                        ts_ms / 1000, dt.timezone.utc
                    ).strftime("%Y-%m-%dT%H:%M:%SZ"),
                    "author_id": author,
                    "lang": lang,
                    "public_metrics": {
                        "retweet_count": int(rng.integers(100)),
                        "like_count": int(rng.integers(1000)),
                        "reply_count": int(rng.integers(10)),
                        "quote_count": int(rng.integers(5)),
                    },
                },
                "includes": {"users": [{"id": author,
                                        "username": "user_" + author}]},
                "kafka_timestamp": ts_ms,
            }
            line = json.dumps(env, separators=(",", ":"))
            sent.append(line)
            out.append(line)
        with open(os.path.join(path, f"part-{f:05d}.jsonl"), "w") as fh:
            fh.write("\n".join(out) + "\n")
    return Backlog(path, n - malformed)


# ---------------------------------------------------------------------------
# serve: raw tweets for SentimentEngine.store()
# ---------------------------------------------------------------------------

def _tweets_table(rng: np.random.Generator, ids: list[str],
                  start: np.datetime64, span_h: float) -> pa.Table:
    offs = np.sort(rng.integers(int(span_h * 3600e6), size=len(ids)))
    ts = start + offs.astype("timedelta64[us]")
    return pa.table({
        "tweet_id": pa.array(ids, pa.string()),
        "text": pa.array(_sentences(rng, len(ids), _TWEET), pa.string()),
        "author_id": pa.array(
            [str(int(a)) for a in rng.integers(1000, size=len(ids))]),
        "processed_at": pa.array(ts, pa.timestamp("us")),
    })


@dataclass(frozen=True)
class ServeInputs:
    base_path: str
    base_rows: int
    fresh_path: str
    fresh_rows: int
    fresh_new_ids: int             # ids in the fresh batch not yet stored


def write_serve_inputs(path: str, base_rows: int, fresh_rows: int,
                       stored_share: float, seed: int) -> ServeInputs:
    rng = _rng(seed, "serve")
    os.makedirs(path, exist_ok=True)
    start = np.datetime64("2026-01-01T00:00:00", "us")
    base_ids = [f"t{seed}-{i}" for i in range(base_rows)]
    n_old = int(round(fresh_rows * stored_share))
    old = rng.choice(base_rows, size=n_old, replace=False)
    fresh_ids = [base_ids[i] for i in old] + [
        f"t{seed}-{base_rows + i}" for i in range(fresh_rows - n_old)]
    base = os.path.join(path, "base.parquet")
    fresh = os.path.join(path, "fresh.parquet")
    pq.write_table(_tweets_table(rng, base_ids, start, 48.0), base)
    pq.write_table(
        _tweets_table(rng, fresh_ids, start + np.timedelta64(47, "h"), 2.0),
        fresh)
    return ServeInputs(base, base_rows, fresh, fresh_rows, fresh_rows - n_old)


# ---------------------------------------------------------------------------
# curate: the engine's testdata layout (TPC-H-ish star + events, documents,
# embeddings), one parquet file per table
# ---------------------------------------------------------------------------

def _money(rng: np.random.Generator, lo: float, hi: float,
           n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, choices, n: int) -> np.ndarray:
    return np.array(choices)[rng.integers(len(choices), size=n)]


def write_tables(path: str, rows: dict[str, int], seed: int) -> str:
    """Write the ten testdata tables with the row counts ``rows`` (one of
    ROWS) and return the directory."""
    rng = _rng(seed, "tables")
    os.makedirs(path, exist_ok=True)
    n_cust, n_supp, n_part = rows["customer"], rows["supplier"], rows["part"]
    n_ord, n_line, n_ev = rows["orders"], rows["lineitem"], rows["events"]
    n_doc, n_emb = rows["documents"], rows["embeddings"]
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(25, size=n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, segs, n_cust)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(25, size=n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["small", "red", "blue", "hot", "big", "cold", "green", "shiny"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "cog"]
    ptypes = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(_pick(rng, adj, n_part), " "),
                              _pick(rng, noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(
            1, 26, size=n_part).astype(str)),
        "p_type": _pick(rng, ptypes, n_part),
        "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 2)})
    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    odays = rng.integers(0, 2400, size=n_ord)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(n_cust, size=n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(day0 + odays.astype("timedelta64[D]"),
                                pa.timestamp("us")),
        "o_orderpriority": _pick(rng, prios, n_ord)})
    lord = rng.integers(n_ord, size=n_line)
    qty = rng.integers(1, 51, size=n_line).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(lord, pa.int64()),
        "l_partkey": pa.array(rng.integers(n_part, size=n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(n_supp, size=n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, size=n_line) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(
            day0 + (odays[lord] + rng.integers(1, 100, size=n_line))
            .astype("timedelta64[D]"), pa.timestamp("us"))})
    ev_ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, size=n_ev))
    etypes = ["click", "error", "purchase", "signup", "view"]
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ev_ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(rows["users"], size=n_ev),
                            pa.int64()),
        "event_type": _pick(rng, etypes, n_ev),
        "value": np.round(rng.exponential(EVENT_VALUE_MEAN, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(
            100, size=n_ev).astype(str)), "}")})
    texts = _sentences(rng, n_doc)
    # copies of other documents, as the testdata plants them
    kind = rng.random(n_doc)
    src = rng.integers(n_doc, size=n_doc)
    for i in np.flatnonzero(kind < NEAR_COPY_SHARE + EXACT_COPY_SHARE):
        texts[i] = texts[src[i]] + (
            "" if kind[i] < EXACT_COPY_SHARE else " dup")
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": _langs(rng, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    # isotropic unit vectors with labels independent of them: the testdata
    # label centroids are no longer than those of random labels
    labels = rng.integers(10, size=n_emb)
    vecs = rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    for name, table in tables.items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
    return path
