"""The benchmark's own tests: seeded inputs repeat byte for byte, metric
names are well formed and match BENCHMARK.json, and every correctness
check fails on a corrupted output. No Spark session is needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, gen, metrics  # noqa: E402

SPEC = gen.EventSpec(
    n_files=3,
    events_per_file=50,
    keys=40,
    op_mix={"signup": 1, "purchase": 1, "click": 3, "view": 1, "error": 1},
    payload_bytes=16,
)


def _blobs(seed: int) -> list[bytes]:
    return [gen.parquet_bytes(t) for t in gen.event_tables(seed, SPEC)]


def test_same_seed_gives_byte_identical_events():
    assert _blobs(11) == _blobs(11)
    assert _blobs(11) != _blobs(12)


def test_generator_knobs_shape_the_feed():
    tables = gen.event_tables(1, SPEC)
    assert [t.num_rows for t in tables] == [50, 50, 50]
    ids = [i for t in tables for i in t.column("event_id").to_pylist()]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    assert max(u for t in tables for u in t.column("user_id").to_pylist()) < 40
    unique = gen.event_tables(1, gen.EventSpec(n_files=2, events_per_file=30, keys=None))
    users = [u for t in unique for u in t.column("user_id").to_pylist()]
    assert len(set(users)) == len(users)


def test_metric_names_and_units_are_well_formed():
    names = [m[0] for m in metrics.END_TO_END] + [m[0] for m in metrics.PER_LAYER]
    names += list(metrics.WORKLOADS)
    assert len(names) == len(set(names))
    for name in names:
        assert metrics.NAME_RE.match(name), name
    for unit in [m[1] for m in metrics.END_TO_END] + [m[1] for m in metrics.PER_LAYER]:
        assert metrics.UNIT_RE.match(unit), unit
    for why, _stresses, _bypasses in metrics.WORKLOADS.values():
        assert len(why) <= 200 and "\n" not in why


def test_benchmark_json_matches_the_registry():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        assert json.load(fh) == metrics.benchmark_json()
    ends = {m[0] for m in metrics.END_TO_END}
    assert ends <= set(metrics.DEFINITIONS)
    assert "setup_s" in ends
    assert max(m[3] for m in metrics.END_TO_END) == dict(
        (m[0], m[3]) for m in metrics.END_TO_END
    )["setup_s"]


def _fake_sink(tables, base: str) -> None:
    """One JSON-lines object per landed file, in the sink's wire format."""
    for i, table in enumerate(tables):
        path = os.path.join(base, f"c{i}", "2024", "03", "01", "00", f"{i:012d}.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for token, (op, coll, key, doc, ts_us) in checks.expected_envelopes(table).items():
                row = {
                    "operation": op,
                    "database": "app",
                    "collection": coll,
                    "cluster_time": _iso(ts_us),
                    "document_key": key,
                    "resume_token": token,
                }
                if doc is not None:
                    row["full_document"] = doc
                fh.write(json.dumps(row) + "\n")


def _iso(ts_us: int) -> str:
    from datetime import datetime, timedelta

    t = datetime(1970, 1, 1) + timedelta(microseconds=ts_us)
    return t.strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"


def test_exactly_once_check_fails_on_a_deleted_or_duplicated_object(tmp_path):
    tables = gen.event_tables(2, SPEC)
    expected = [checks.expected_envelopes(t) for t in tables]
    base = str(tmp_path / "sink")
    _fake_sink(tables, base)
    assert checks.exactly_once_failures(expected, checks.read_json_sink(base)) == 0

    dup = os.path.join(base, "c1", "2024", "03", "01", "00", "copy.jsonl")
    shutil.copy(os.path.join(base, "c1", "2024", "03", "01", "00", f"{1:012d}.jsonl"), dup)
    assert checks.exactly_once_failures(expected, checks.read_json_sink(base)) == 1
    os.remove(dup)

    os.remove(os.path.join(base, "c2", "2024", "03", "01", "00", f"{2:012d}.jsonl"))
    assert checks.exactly_once_failures(expected, checks.read_json_sink(base)) == 1


def test_exactly_once_check_fails_on_a_changed_row(tmp_path):
    tables = gen.event_tables(2, SPEC)
    expected = [checks.expected_envelopes(t) for t in tables]
    base = str(tmp_path / "sink")
    _fake_sink(tables, base)
    rows = checks.read_json_sink(base)
    rows[0]["operation"] = "delete" if rows[0]["operation"] != "delete" else "insert"
    assert checks.exactly_once_failures(expected, rows) == 1
    rows = checks.read_json_sink(base)
    rows.append(dict(rows[0], resume_token="999999"))
    assert checks.exactly_once_failures(expected, rows) == 1


def test_snapshot_check_fails_on_a_dropped_or_changed_row():
    twin = [("c0", '{"_id":1}', "insert", "{}", 3), ("c1", '{"_id":2}', "update", "{}", 7)]
    assert checks.row_set_failures(list(twin), twin) == 0
    assert checks.row_set_failures(twin[:1], twin) == 1
    assert checks.row_set_failures([twin[0], twin[1][:4] + (8,)], twin) == 2
