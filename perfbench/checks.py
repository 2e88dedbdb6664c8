"""Correctness checks, independent of the engine's own readers where
that is possible: the expected values are computed from the generated
inputs with pyarrow / stdlib, and each check returns how many checked
items are wrong (0 = correct)."""

from __future__ import annotations

import glob
import json
import os
from collections import Counter
from datetime import datetime, timezone

import pyarrow as pa

from perfbench.gen import OPERATION_OF

# event types whose change event carries the full document when the
# stream does not look documents up on update (the Pipeline default)
_FULL_DOC_TYPES = {"signup", "purchase", "view"}


def expected_envelopes(table: pa.Table) -> dict[str, tuple]:
    """resume_token -> (operation, collection, document_key, full_document,
    cluster_time in epoch microseconds) for one generated events file, as
    the Pipeline's change-event mapping must emit it."""
    out = {}
    cols = table.to_pydict()
    for eid, ts, uid, et, props in zip(
        cols["event_id"], cols["ts"], cols["user_id"], cols["event_type"], cols["props"]
    ):
        out[str(eid)] = (
            OPERATION_OF[et],
            f"c{uid % 4}",
            f'{{"_id":{uid}}}',
            props if et in _FULL_DOC_TYPES else None,
            _epoch_us(ts),
        )
    return out


def _epoch_us(ts) -> int:
    """Microseconds since the epoch of a naive-UTC datetime or an
    ISO-8601 string."""
    if isinstance(ts, str):
        ts = datetime.fromisoformat(ts)
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
    d = ts - datetime(1970, 1, 1)
    return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds


def read_json_sink(base: str) -> list[dict]:
    """Every row of every JSON-lines object under a sink root."""
    rows = []
    for path in sorted(glob.glob(os.path.join(base, "**", "*.jsonl"), recursive=True)):
        with open(path) as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    return rows


def exactly_once_failures(files: list[dict[str, tuple]], rows: list[dict]) -> int:
    """Number of landed files with an event that is missing, duplicated or
    wrong in the sink, plus one for any sink row that no file landed."""
    seen = Counter(r.get("resume_token") for r in rows)
    got = {
        r.get("resume_token"): (
            r.get("operation"),
            r.get("collection"),
            r.get("document_key"),
            r.get("full_document"),
            _epoch_us(r["cluster_time"]) if r.get("cluster_time") else None,
        )
        for r in rows
    }
    bad = 0
    expected_tokens = set()
    for envelopes in files:
        expected_tokens.update(envelopes)
        if any(seen[t] != 1 or got.get(t) != env for t, env in envelopes.items()):
            bad += 1
    if set(seen) - expected_tokens:
        bad += 1
    return bad


def row_set_failures(got: list[tuple], want: list[tuple]) -> int:
    """Rows in one list and not the other (multiset difference)."""
    g, w = Counter(got), Counter(want)
    return sum(((g - w) + (w - g)).values())
