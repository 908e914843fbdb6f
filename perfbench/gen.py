"""Seeded input generator for the benchmark workloads.

Every table is drawn from one numpy ``Generator`` seeded by the
benchmark's ``--seed``, so the same seed gives byte-identical parquet
files. Schemas and value ranges follow the engine's fixture tables
(FIXTURES.md, TESTDATA.md): a TPC-H-ish star schema, an ``events``
stream table and a ``documents`` text table. Timestamps are written
as parquet TIMESTAMP(MICROS) without a time zone, as the fixtures are.

The text corpus is generated, never replicated: the base vocabulary of
the fixture corpus, one heavy hitter (``flight``, about 3% of tokens,
like the reference corpus) and a long Zipf tail of synthetic words.
A few words carry punctuation or a capital letter, which the engine's
normalisation strips, and about 2% of documents are exact duplicates.

Runs in one process; numpy and pyarrow use at most ``nproc`` threads.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
HEAVY_HITTER = "flight"
HEAVY_SHARE = 0.03
BASE_SHARE = 0.40
TAIL_WORDS = 20_000
TAIL_ZIPF_S = 1.1
SYLLABLES = (
    "ka ro mi te su na lo pe vi da ze qu ba fo ri gu ne ho ty ma "
    "li so wa de ki pa ru xe no ca"
).split()

NATIONS = 25
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "old", "red", "small", "new", "hot", "large", "cold")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.44, 0.14, 0.14, 0.14, 0.14)

DAY_US = 86_400 * 1_000_000
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _tail_vocab(rng: np.random.Generator) -> np.ndarray:
    """TAIL_WORDS distinct lowercase words of 2-4 syllables."""
    words: list[str] = []
    seen = set(BASE_VOCAB) | {HEAVY_HITTER}
    while len(words) < TAIL_WORDS:
        n = int(rng.integers(2, 5))
        w = "".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def _token_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """Token ids: 0 is the heavy hitter, 1..len(BASE_VOCAB) the base
    vocabulary, then the Zipf-ranked tail."""
    u = rng.random(n)
    ids = np.empty(n, dtype=np.int64)
    heavy = u < HEAVY_SHARE
    base = (u >= HEAVY_SHARE) & (u < HEAVY_SHARE + BASE_SHARE)
    tail = ~(heavy | base)
    ids[heavy] = 0
    ids[base] = 1 + rng.integers(0, len(BASE_VOCAB), int(base.sum()))
    ranks = np.arange(1, TAIL_WORDS + 1, dtype=np.float64)
    p = ranks ** -TAIL_ZIPF_S
    ids[tail] = 1 + len(BASE_VOCAB) + rng.choice(TAIL_WORDS, int(tail.sum()), p=p / p.sum())
    return ids


def documents(rng: np.random.Generator, n_docs: int) -> tuple[pa.Table, int]:
    """(documents table, token count after the engine's normalisation)."""
    vocab = np.concatenate(
        [np.array([HEAVY_HITTER] + BASE_VOCAB, dtype=object), _tail_vocab(rng)]
    )
    lengths = rng.integers(8, 92, n_docs)
    n_tokens = int(lengths.sum())
    words = vocab[_token_ids(rng, n_tokens)]
    # decorations the normaliser strips: trailing punctuation, capitals
    decorate = rng.random(n_tokens)
    punct = np.array([",", ".", "!", "?", ";"], dtype=object)
    mark = decorate < 0.04
    words[mark] = words[mark] + punct[rng.integers(0, len(punct), int(mark.sum()))]
    cap = decorate > 0.97
    words[cap] = np.array([w.capitalize() for w in words[cap]], dtype=object)
    bounds = np.cumsum(lengths)[:-1]
    texts = [" ".join(chunk) for chunk in np.split(words, bounds)]
    # exact duplicates: copy ~2% of documents over later ones
    dup_src = rng.integers(0, n_docs, n_docs // 50)
    dup_dst = rng.integers(0, n_docs, n_docs // 50)
    for s, d in zip(dup_src, dup_dst):
        if s != d:
            n_tokens += lengths[s] - lengths[d]
            lengths[d] = lengths[s]
            texts[d] = texts[s]
    lang = np.array(LANGS, dtype=object)[rng.choice(len(LANGS), n_docs, p=LANG_WEIGHTS)]
    source = np.array([f"src{i}" for i in range(20)], dtype=object)[rng.integers(0, 20, n_docs)]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang, pa.string()),
            "source": pa.array(source, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return table, int(n_tokens)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * DAY_US, pa.timestamp("us"))


def star_schema(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, part, orders, lineitem and
    events at scale factor ``sf`` (sf 0.01: 60,000 lineitems)."""
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 20)
    n_line = max(int(6_000_000 * sf), 60)
    n_events = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 5)

    def pick(values, n):
        return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(len(REGIONS)), pa.int32()), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(NATIONS), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(NATIONS)],
            "n_regionkey": pa.array([i % len(REGIONS) for i in range(NATIONS)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, NATIONS, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pick(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, NATIONS, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n_part)]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(adj + " " + noun, pa.string()),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": pick(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(900 + (np.arange(n_part) % 1000) / 10, pa.float64()),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(rng.permutation(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pick(("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": pick(PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), pa.float64()),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, pa.float64()),
            "l_returnflag": pick(("A", "N", "R"), n_line),
            "l_linestatus": pick(("F", "O"), n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    # events: sorted microsecond timestamps over 30 days
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_events)) + EPOCH_2024
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": pick(EVENT_TYPES, n_events),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], pa.string()),
        }
    )
    return t


def write_table(table: pa.Table, path: str, files: int = 1) -> int:
    """Write ``table`` to ``path`` (one file, or a directory of
    ``files`` part files); returns bytes written."""
    if files == 1:
        pq.write_table(table, path)
        return os.path.getsize(path)
    os.makedirs(path, exist_ok=True)
    total = 0
    step = -(-table.num_rows // files)
    for i in range(files):
        part = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), part)
        total += os.path.getsize(part)
    return total


def generate(out_dir: str, seed: int, sf: float, n_docs: int, doc_files: int) -> dict:
    """Write one workload's inputs under ``out_dir``: the star schema at
    scale factor ``sf`` (none for 0) and ``n_docs`` documents in
    ``doc_files`` files. Returns the input record: rows, bytes and files
    per table, plus text bytes and token count of the documents."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = star_schema(rng, sf) if sf > 0 else {}
    docs, tokens = documents(rng, n_docs)
    tables["documents"] = docs
    record: dict = {}
    for name, table in tables.items():
        files = doc_files if name == "documents" else 1
        size = write_table(table, os.path.join(out_dir, f"{name}.parquet"), files)
        record[name] = {"rows": table.num_rows, "bytes": size, "files": files}
    text = docs.column("text")
    record["documents"]["text_bytes"] = pc.sum(pc.binary_length(text)).as_py()
    record["documents"]["tokens"] = tokens
    return record
