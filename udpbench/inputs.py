"""Seeded input generation for the benchmark.

Everything the engine sees is a pure function of ``--seed``: the
fixture-schema relational tables, the base document corpus that pre-builds
the pipeline warehouse, the ingest batches (with planted re-lands of
earlier text) and the History-tab filter settings.  The engine receives
only the written files and data frames built from them.

Generated text uses syllable words (consonant-vowel pairs), so no generated
word contains the stub classifier's keywords ``customer`` or ``stream``;
the class of a pipeline document is fixed by planting exactly one keyword.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONSONANTS = "bdfgklmnprtvz"
VOWELS = "aeiou"
CLASS_KEYWORD = {"invoice": "customer", "receipt": "stream", "contract": None}
CLASSES = ("invoice", "receipt", "contract")
STAGES = ("land_a", "land_b", "archive")
VOCAB_SIZE = 600

# fixture shape: the sf0.001 tier of the registry's fixtures
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS, N_EVENTS = 150, 10, 200, 1500, 1000
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "view", "purchase", "error", "click")
DATE_BASE = "1992-01-01"  # day 0 of the fixture dates
# ingest workload: share of a fresh batch's documents (after the first
# three) that re-land an earlier text; one op in every REPLAY_EVERY
# re-delivers batch 1 (a fixed period, so every run holds about the same
# number of replays)
RELAND_SHARE = 0.2
REPLAY_EVERY = 5


def vocabulary(rng: np.random.Generator) -> list[str]:
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(1, 4))
        words.add(
            "".join(
                CONSONANTS[int(rng.integers(len(CONSONANTS)))]
                + VOWELS[int(rng.integers(len(VOWELS)))]
                for _ in range(n)
            )
        )
    return sorted(words)


def long_tail_lengths(
    rng: np.random.Generator, n: int, median: float, lo: int, hi: int
) -> list[int]:
    """``n`` word counts with a lognormal (sigma 0.8) long tail, stratified:
    the lognormal's quantiles at (i + 0.5) / n in a seeded order.  Every
    seed gets the same length distribution (so corpus size does not swing
    with the seed); the seed decides which document gets which length."""
    z = [NormalDist().inv_cdf((i + 0.5) / n) for i in range(n)]
    lens = [int(min(hi, max(lo, round(median * math.exp(0.8 * zi))))) for zi in z]
    return [lens[int(i)] for i in rng.permutation(n)]


def random_text(rng: np.random.Generator, vocab: list[str], n_words: int) -> str:
    idx = rng.integers(len(vocab), size=n_words)
    return " ".join(vocab[int(i)] for i in idx)


def one_word_edit(rng: np.random.Generator, vocab: list[str], text: str) -> str:
    """Replace one seeded word position with a different vocabulary word."""
    words = text.split(" ")
    pos = int(rng.integers(len(words)))
    repl = vocab[int(rng.integers(len(vocab)))]
    while repl == words[pos]:
        repl = vocab[int(rng.integers(len(vocab)))]
    words[pos] = repl
    return " ".join(words)


def pipeline_text(rng: np.random.Generator, vocab: list[str], cls: str, n_words: int) -> str:
    """A pipeline document of class ``cls`` with ``n_words`` words, the
    class keyword planted at a seeded position (contracts carry none)."""
    words = random_text(rng, vocab, n_words).split(" ")
    kw = CLASS_KEYWORD[cls]
    if kw is not None:
        words[int(rng.integers(len(words)))] = kw
    return " ".join(words)


def write_parquet(path: str, table: pa.Table) -> None:
    """Single-file parquet with fixed writer settings (byte-stable)."""
    pq.write_table(table, path, compression="snappy", use_dictionary=True)


# ---------------------------------------------------------------------------
# fixture-schema relational tables (history workload)


def _ts_us(days: np.ndarray) -> pa.Array:
    epoch = np.datetime64(DATE_BASE, "D").astype("datetime64[us]")
    vals = epoch + days.astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(vals, type=pa.timestamp("us"))


def write_fixture_tables(seed: int, out_dir: str) -> None:
    """region/nation/customer/supplier/part/orders/lineitem/events in the
    relational fixture schemas (FIXTURES.md section B), sized like sf0.001."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731

    write_parquet(p("region"), pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    }))
    write_parquet(p("nation"), pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    cents = lambda n, lo, hi: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    write_parquet(p("customer"), pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": pa.array(cents(N_CUSTOMER, -999, 9999)),
        "c_mktsegment": pa.array(
            [SEGMENTS[int(i)] for i in rng.integers(0, 5, N_CUSTOMER)]
        ),
    }))
    write_parquet(p("supplier"), pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": pa.array(cents(N_SUPPLIER, -999, 9999)),
    }))
    adj = ("cold", "small", "large", "shiny", "red", "green")
    noun = ("widget", "gear", "bolt", "panel")
    write_parquet(p("part"), pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": pa.array([
            f"{adj[int(a)]} {noun[int(b)]}"
            for a, b in zip(rng.integers(0, 6, N_PART), rng.integers(0, 4, N_PART))
        ]),
        "p_brand": pa.array([f"Brand#{int(i)}" for i in rng.integers(1, 30, N_PART)]),
        "p_type": pa.array([
            ("ECONOMY", "STANDARD", "PROMO", "LARGE")[int(i)]
            for i in rng.integers(0, 4, N_PART)
        ]),
        "p_size": pa.array(rng.integers(1, 50, N_PART), pa.int32()),
        "p_retailprice": pa.array(
            [round(900 + (i % 200) * 0.1, 2) for i in range(N_PART)]
        ),
    }))
    odays = rng.integers(0, 7 * 365, N_ORDERS)
    write_parquet(p("orders"), pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": pa.array(
            [("F", "O", "P")[int(i)] for i in rng.integers(0, 3, N_ORDERS)]
        ),
        "o_totalprice": pa.array(cents(N_ORDERS, 900, 400000)),
        "o_orderdate": _ts_us(odays),
        "o_orderpriority": pa.array(
            [PRIORITIES[int(i)] for i in rng.integers(0, 5, N_ORDERS)]
        ),
    }))
    lines = rng.integers(1, 8, N_ORDERS)
    okeys = np.repeat(np.arange(N_ORDERS), lines)
    lnum = np.concatenate([np.arange(1, n + 1) for n in lines])
    n_li = len(okeys)
    qty = rng.integers(1, 51, n_li).astype(float)
    ship = odays[okeys] + rng.integers(1, 122, n_li)
    write_parquet(p("lineitem"), pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(
            [("R", "A", "N")[int(i)] for i in rng.integers(0, 3, n_li)]
        ),
        "l_linestatus": pa.array(
            [("O", "F")[int(i)] for i in rng.integers(0, 2, n_li)]
        ),
        "l_shipdate": _ts_us(ship),
    }))
    # events: a month of activity spread over 40 users
    base = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 24 * 3600 * 10**6, N_EVENTS))
    write_parquet(p("events"), pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(base + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 40, N_EVENTS), pa.int64()),
        "event_type": pa.array(
            [EVENT_TYPES[int(i)] for i in rng.integers(0, 5, N_EVENTS)]
        ),
        "value": pa.array(cents(N_EVENTS, 0, 500)),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    }))


# ---------------------------------------------------------------------------
# pipeline documents (history warehouse + ingest)


@dataclass
class PipelineDoc:
    doc_id: int
    text: str
    cls: str
    stage: str

    @property
    def file_ref(self) -> str:
        return f"d{self.doc_id:08d}.txt"


def base_corpus(seed: int, n_docs: int) -> list[PipelineDoc]:
    """The documents the warehouse is pre-built from; each document's class
    is drawn from the seed."""
    rng = np.random.default_rng([seed, 3])
    vocab = vocabulary(rng)
    lengths = long_tail_lengths(rng, n_docs, 60, 12, 900)
    docs = []
    for i in range(n_docs):
        cls = CLASSES[(i + int(rng.integers(3))) % 3]
        docs.append(
            PipelineDoc(i, pipeline_text(rng, vocab, cls, lengths[i]), cls, STAGES[i % 3])
        )
    return docs


@dataclass
class IngestOp:
    batch_id: int
    docs: list[PipelineDoc]
    replay: bool = False
    # doc_id -> (source doc_id, word_edits) for planted re-lands
    relands: dict[int, tuple[int, int]] = field(default_factory=dict)


def ingest_batch(
    seed: int,
    key: int,
    earlier: list[PipelineDoc],
    batch_id: int,
    first_id: int,
    batch_docs: int,
) -> IngestOp:
    """A fresh batch.  Its first three documents are one per class, so
    every batch carries all three; after that a ``RELAND_SHARE`` of the
    documents re-land an earlier text (``earlier`` or this batch) verbatim
    or with one word changed."""
    rng = np.random.default_rng([seed, 4, key])
    vocab = vocabulary(np.random.default_rng([seed, 3]))  # the base corpus's
    lengths = long_tail_lengths(rng, batch_docs, 60, 12, 900)
    docs: list[PipelineDoc] = []
    relands: dict[int, tuple[int, int]] = {}
    for j in range(batch_docs):
        doc_id = first_id + j
        stage = STAGES[j % 3]
        if j >= 3 and rng.random() < RELAND_SHARE:
            pool = earlier + docs
            src = pool[int(rng.integers(len(pool)))]
            edits = int(rng.integers(0, 2))
            text = src.text if edits == 0 else one_word_edit(rng, vocab, src.text)
            # an edit can replace the class keyword; the expected answers
            # classify by content, exactly like the stub
            docs.append(PipelineDoc(doc_id, text, src.cls, stage))
            relands[doc_id] = (src.doc_id, edits)
        else:
            cls = CLASSES[(j + batch_id) % 3]
            docs.append(
                PipelineDoc(doc_id, pipeline_text(rng, vocab, cls, lengths[j]), cls, stage)
            )
    return IngestOp(batch_id, docs, False, relands)


def delivered_batch(seed: int, base: list[PipelineDoc], batch_docs: int) -> IngestOp:
    """Batch 1, delivered through the intake stream during set-up."""
    return ingest_batch(seed, 0, base, 1, len(base), batch_docs)


def ingest_op(
    seed: int,
    r: int,
    base: list[PipelineDoc],
    delivered: IngestOp,
    batch_docs: int,
) -> IngestOp:
    """Op ``r`` on the pre-built warehouse (base + batch 1): every
    ``REPLAY_EVERY``-th op, from a seeded phase, re-delivers batch 1; the
    others are fresh batch 2."""
    phase = int(np.random.default_rng([seed, 6]).integers(REPLAY_EVERY))
    if (r + phase) % REPLAY_EVERY == 0:
        return IngestOp(delivered.batch_id, delivered.docs, True, delivered.relands)
    return ingest_batch(
        seed, r + 1, base + delivered.docs, 2, len(base) + batch_docs, batch_docs
    )


def history_filters(seed: int, n: int) -> list[dict]:
    """Seeded History-tab filter settings (classes / stage / file name)."""
    rng = np.random.default_rng([seed, 5])
    out = []
    for _ in range(n):
        k = int(rng.integers(0, 3))
        classes = sorted(rng.choice(CLASSES, size=k, replace=False).tolist())
        stage = STAGES[int(rng.integers(3))] if rng.random() < 0.5 else None
        digit = str(int(rng.integers(10))) if rng.random() < 0.5 else None
        out.append({"classes": classes, "stage_contains": stage, "file_contains": digit})
    return out
