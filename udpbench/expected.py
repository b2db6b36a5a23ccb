"""Expected answers, computed without Spark.

* Registry queries: the registry's own DuckDB oracle (``oracle_sql()``)
  over the same generated parquet, reduced to an order-insensitive digest.
* Pipeline rows: a pure-Python mirror of ``DeterministicStubBackend``
  (classify, the three auto-generated extraction fields, OCR envelope and
  summary), so warehouse rows written by the pipeline and the history
  operators reading them are checked row by row.
* Incremental dedup verdicts: a pure-Python mirror of
  ``IncrementalLshDedup`` (word-3-gram shingles, 8 md5-slice MinHashes,
  4 bands of 2, exact Jaccard >= 0.5 on candidates, "seen first" rule).

All checks run outside the timed region.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import json
import math
import os
from collections import Counter

from udpbench.inputs import PipelineDoc

# ---------------------------------------------------------------------------
# value normalization (shared by the Spark side and the DuckDB side)


def norm_cell(v):
    """Canonical cell rendering: numbers compare by value at 9 decimals
    (ints and floats alike), temporal values by ISO text."""
    if v is None:
        return None
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return None if math.isnan(f) else repr(round(f, 9))
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat(sep=" ") if isinstance(v, _dt.datetime) else v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(norm_cell(x)) for x in v) + "]"
    return str(v)


def digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: sorted column names plus the
    sorted multiset of normalized rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    normed = sorted(
        repr(tuple(norm_cell(r[i]) for i in order)) for r in rows
    )
    h = hashlib.md5(repr([columns[i] for i in order]).encode())
    for line in normed:
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(normed)}:{h.hexdigest()}"


def oracle_digests(names: list[str], fixture_dir: str) -> dict[str, str]:
    """Run each registry query's DuckDB oracle over the fixture parquet."""
    import duckdb

    from unstructured_data_pipeline_spark.queries import oracle_sql
    from unstructured_data_pipeline_spark.schemas import FIXTURE_TABLES

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        for t in FIXTURE_TABLES:
            p = os.path.join(fixture_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for n in names:
            cur = con.execute(sql[n])
            cols = [d[0] for d in cur.description]
            out[n] = digest(cols, cur.fetchall())
        return out
    finally:
        con.close()


# ---------------------------------------------------------------------------
# DeterministicStubBackend mirror

_DUMPS = dict(separators=(",", ":"), sort_keys=True, ensure_ascii=False)
FIELDS = ("first_word", "n_words", "fingerprint")


def classify(text: str) -> str:
    if "customer" in text:
        return "invoice"
    if "stream" in text:
        return "receipt"
    return "contract"


def extract(text: str) -> dict[str, str]:
    words = text.split(" ") if text else []
    return {
        "first_word": words[0] if words else "",
        "n_words": str(len(words)),
        "fingerprint": hashlib.md5(text.encode("utf-8")).hexdigest(),
    }


def ocr(text: str) -> str:
    return json.dumps({"content": text, "mode": "layout"}, **_DUMPS)


def summarize(text: str) -> str:
    words = text[:6000].split(" ")
    return " ".join(words[:12]) + (" ..." if len(words) > 12 else "")


def pipeline_rows(doc: PipelineDoc, with_ocr: bool = True):
    """The rows one pipeline run writes for ``doc``: documents_processed
    (file_ref, class_name, extraction_result), EAV (file_ref, class_name,
    field_name, field_value) and document_ocr (file_name, ocr, summary)."""
    cls = classify(doc.text)
    ans = extract(doc.text)
    processed = (doc.file_ref, cls, json.dumps({"response": ans}, **_DUMPS))
    eav = [(doc.file_ref, cls, f, ans[f]) for f in FIELDS]
    ocr_rows = [(doc.file_ref, ocr(doc.text), summarize(doc.text))] if with_ocr else []
    return processed, eav, ocr_rows


# ---------------------------------------------------------------------------
# history operators over the pre-built warehouse


class HistoryMirror:
    """Expected History-tab answers for a warehouse pre-built from
    ``runs``: a list of (docs, with_ocr) pipeline runs, each appended."""

    def __init__(self, runs: list[tuple[list[PipelineDoc], bool]]):
        self.eav: list[tuple] = []  # (file_ref, class, field, value, stage)
        self.ocr_refs: set[str] = set()
        for docs, with_ocr in runs:
            for d in docs:
                _, eav, ocr_rows = pipeline_rows(d, with_ocr)
                self.eav.extend(e + (d.stage,) for e in eav)
                if ocr_rows:
                    self.ocr_refs.add(d.file_ref)

    def _rows(self, f: dict):
        for ref, cls, field, val, stage in self.eav:
            if f["classes"] and cls not in f["classes"]:
                continue
            if f["file_contains"] and f["file_contains"].lower() not in ref.lower():
                continue
            yield ref, cls, field, val, stage

    def class_summary(self, f: dict) -> list[tuple]:
        # the operator drops file_url before filtering, so the stage filter
        # does not apply (reference behaviour)
        docs: dict[str, set] = {}
        for ref, cls, *_ in self._rows(f):
            docs.setdefault(cls, set()).add(ref)
        return [(c, len(refs)) for c, refs in docs.items()]

    def _staged(self, f: dict):
        for row in self._rows(f):
            if f["stage_contains"] and f["stage_contains"].lower() not in row[4].lower():
                continue
            yield row

    def documents_latest(self, f: dict) -> list[tuple]:
        """(file_ref, class_name, stage, fields_extracted, has_ocr); the
        processed_at column is a wall-clock stamp and is checked for
        presence only."""
        per: Counter = Counter()
        stage: dict = {}
        for ref, cls, _field, _val, st in self._staged(f):
            per[(ref, cls)] += 1
            stage[(ref, cls)] = st
        return [
            (ref, cls, stage[(ref, cls)], n, ref in self.ocr_refs)
            for (ref, cls), n in per.items()
        ]

    def field_flatten(self, f: dict) -> list[tuple]:
        return [(ref, cls, field, val) for ref, cls, field, val, _ in self._staged(f)]


def multiset_mismatch(got: list[tuple], want: list[tuple]) -> str | None:
    g, w = Counter(got), Counter(want)
    if g == w:
        return None
    missing = list((w - g).elements())[:2]
    extra = list((g - w).elements())[:2]
    return f"{len(got)} rows vs {len(want)} expected; missing {missing} extra {extra}"


# ---------------------------------------------------------------------------
# IncrementalLshDedup mirror

NUM_HASHES, BANDS, NGRAM, THRESHOLD = 8, 4, 3, 0.5


def shingles(text: str) -> frozenset:
    toks = text.split(" ")
    k = max(len(toks) - (NGRAM - 1), 0)
    return frozenset(" ".join(toks[i : i + NGRAM]) for i in range(k))


def band_keys(sh: frozenset) -> tuple[str, ...] | None:
    if not sh:
        return None
    hexes = [hashlib.md5(s.encode("utf-8")).hexdigest() for s in sh]
    mh = [min(h[4 * k : 4 * k + 4] for h in hexes) for k in range(NUM_HASHES)]
    rows = NUM_HASHES // BANDS
    return tuple("#".join(mh[b * rows : (b + 1) * rows]) for b in range(BANDS))


def jaccard(a: frozenset, b: frozenset) -> float:
    i = len(a & b)
    return i / (len(a) + len(b) - i)


class DedupMirror:
    """Index state of one warehouse: batch id -> {doc_id: (shingles,
    band keys)}; ``verdicts`` reproduces ``process_batch``."""

    def __init__(self):
        self.batches: dict[int, dict[int, tuple]] = {}

    def copy(self) -> "DedupMirror":
        m = DedupMirror()
        m.batches = {b: dict(d) for b, d in self.batches.items()}
        return m

    def verdicts(self, batch_id: int, docs: list[PipelineDoc]):
        """Returns {doc_id: is_dup} and records the batch's bands
        (replacing any earlier attempt)."""
        new = {}
        for d in docs:
            sh = shingles(d.text)
            new[d.doc_id] = (sh, band_keys(sh))
        buckets: dict[tuple[int, str], list[int]] = {}
        for b, entries in self.batches.items():
            if b < batch_id:
                for did, (_, keys) in entries.items():
                    for band, key in enumerate(keys or ()):
                        buckets.setdefault((band, key), []).append(did)
        prior_sh = {
            did: sh
            for b, entries in self.batches.items()
            if b < batch_id
            for did, (sh, _) in entries.items()
        }
        cand: set[tuple[int, int]] = set()
        ids = sorted(new)
        for did in ids:
            for band, key in enumerate(new[did][1] or ()):
                for a in buckets.get((band, key), ()):
                    cand.add((a, did))
        for i, x in enumerate(ids):
            kx = new[x][1]
            if kx is None:
                continue
            for y in ids[i + 1 :]:
                ky = new[y][1]
                if ky is not None and any(p == q for p, q in zip(kx, ky)):
                    cand.add((x, y))
        sh_of = {**prior_sh, **{d: v[0] for d, v in new.items()}}
        verified = {(a, b) for a, b in cand if jaccard(sh_of[a], sh_of[b]) >= THRESHOLD}
        dups = {b for _, b in verified}
        self.batches[batch_id] = {
            d: v for d, v in new.items() if v[1] is not None
        }
        return {d: d in dups for d in new}
