"""The benchmark's own tests (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import hashlib
import os
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, corpus, procfs  # noqa: E402
from perfbench.statusstore import parse_display  # noqa: E402

SMALL = corpus.AccessSpec(rows=3000, files=4)


def _build(tmp_path, name: str, seed: int, spec=SMALL) -> tuple[str, dict]:
    out = tmp_path / name
    out.mkdir()
    table, klass, status = corpus.access_table(spec, seed)
    corpus.write_files(table, str(out), spec.files, seed)
    return str(out), corpus.access_expectations(table, klass, status)


def _digest(d: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def test_same_seed_same_bytes(tmp_path):
    a, ea = _build(tmp_path, "a", 7)
    b, eb = _build(tmp_path, "b", 7)
    assert _digest(a) == _digest(b)
    assert ea == eb


def test_other_seed_other_corpus(tmp_path):
    a, ea = _build(tmp_path, "a", 7)
    b, eb = _build(tmp_path, "b", 8)
    assert _digest(a) != _digest(b)
    assert ea["sample"] != eb["sample"]


def test_class_mix_follows_gen_layout(tmp_path):
    _, e = _build(tmp_path, "a", 11, corpus.AccessSpec(rows=20000, files=2))
    mix = e["class_mix"]
    assert abs(mix["clean"] / 20000 - 0.935) < 0.01
    assert abs(mix["junk"] / 20000 - 0.02) < 0.005
    assert sum(e["per_sink"].values()) == 20000
    assert e["per_sink"]["reject"] == sum(e["reject_reasons"].values())


def test_build_is_atomic(tmp_path, monkeypatch):
    def boom(*a, **k):
        raise RuntimeError("interrupted")

    monkeypatch.setitem(corpus.WORKLOAD_INPUTS, "tiny", ("access", SMALL))
    monkeypatch.setattr(corpus, "access_expectations", boom)
    out = tmp_path / "corpus" / "tiny-1"
    with pytest.raises(RuntimeError):
        corpus.build("tiny", 1, str(out), 4)
    assert not out.exists()
    assert os.listdir(tmp_path / "corpus") == []


def test_xxhash64_reference_vectors():
    # XXH64 reference values (seed 0), as signed 64-bit integers
    def signed(x):
        return x - (1 << 64) if x >> 63 else x

    assert corpus.xxhash64(b"", seed=0) == signed(0xEF46DB3751D8E999)
    assert corpus.xxhash64(b"abc", seed=0) == signed(0x44BC2CF5AD770999)


def test_xxhash64_matches_spark():
    # SELECT xxhash64(s) in Spark (seed 42) for inputs of every tail length
    for s, want in SPARK_XXHASH.items():
        assert corpus.xxhash64(s.encode()) == want, s


SPARK_XXHASH = {
    "": -7444071767201028348,
    "a": -8582455328737087284,
    "abcd": -6810745876291105281,
    "conv-000000": 152616136305403368,
    "conv-012345": 7366508250418748135,
    "x" * 31: -1716462135722163746,
    "x" * 32: 1299777543150008824,
    "y" * 45: 6488625703338518348,
    "héllo wörld ✓": 1267430004352973977,
}


def _good_output(e: dict) -> tuple[dict, list[dict]]:
    rows = []
    for key, want in e["sample"].items():
        conv, turn = key.split("|")
        fields = dict(want["fields"] or {})
        r = {"conv_id": conv, "turn_idx": int(turn), "_matched": want["error"] is None,
             "_error": want["error"]}
        for f in ("remote_addr", "remote_user", "time_local", "request", "status",
                  "body_bytes_sent", "http_referer", "http_user_agent"):
            r[f] = fields.get(f)
        status = fields.get("status")
        r["sink"] = ("reject" if want["error"] else
                     {"5": "server_error", "4": "client_error", "3": "redirect"}.get(
                         str(status)[0], "ok"))
        rows.append(r)
    return dict(e["per_sink"]), rows


def test_correct_output_passes(tmp_path):
    _, e = _build(tmp_path, "a", 5)
    per_sink, rows = _good_output(e)
    assert checks.check_counts(e, per_sink, dict(e["reject_reasons"])) == []
    assert checks.check_sample(e, rows) == []


def test_flipped_sink_count_fails(tmp_path):
    _, e = _build(tmp_path, "a", 5)
    per_sink, _ = _good_output(e)
    per_sink["ok"] += 1
    per_sink["redirect"] -= 1
    assert checks.check_counts(e, per_sink, dict(e["reject_reasons"]))


def test_altered_sample_field_fails(tmp_path):
    _, e = _build(tmp_path, "a", 5)
    _, rows = _good_output(e)
    bad = copy.deepcopy(rows)
    victim = next(r for r in bad if r["_matched"])
    victim["http_user_agent"] += "!"
    assert checks.check_sample(e, bad)
    missing = rows[1:]
    assert checks.check_sample(e, missing)


def test_aggregate_mismatch_fails(tmp_path):
    import datetime as dt

    _, e = _build(tmp_path, "a", 5)
    aggs = {
        "per_sink": [{"sink": k, "cnt": v} for k, v in e["per_sink"].items()],
        "by_role_status": [{"role": k.split("|")[0], "status_class": k.split("|")[1], "cnt": v}
                           for k, v in e["by_role_status"].items()],
        "by_conv_bucket": [{"conv_bucket": int(k), "cnt": v} for k, v in e["by_conv_bucket"].items()],
        "by_window": [{"window_start": dt.datetime.fromtimestamp(int(k.split("|")[0])),
                       "status_class": k.split("|")[1], "cnt": v}
                      for k, v in e["by_window"].items()],
    }
    assert checks.check_aggregates(e, aggs) == []
    aggs["by_conv_bucket"][0]["cnt"] += 1
    assert checks.check_aggregates(e, aggs)


def test_query_check_is_order_insensitive():
    want = {"columns": ["a", "b"], "rows": corpus.canon_rows([(1, 0.5), (2, 1.25)])}
    assert checks.check_query(want, ["b", "a"], [(1.25, 2), (0.5, 1)]) == []
    assert checks.check_query(want, ["b", "a"], [(1.25, 2), (0.5, 3)])


@pytest.mark.parametrize("text,value", [
    ("5.1 s", 5.1),
    ("0 ms", 0.0),
    ("250 ms", 0.25),
    ("1.5 m", 90.0),
    ("10.7 MiB", 10.7 * 2**20),
    ("1024.0 B", 1024.0),
    ("2.0 GiB", 2.0 * 2**30),
    ("1,234,567", 1234567.0),
    ("total (min, med, max (stageId: taskId))\n5.1 s (0 ms, 1.2 s, 2.0 s (stage 4.0: task 7))", 5.1),
    ("total (min, med, max (stageId: taskId))\n10.7 MiB (1330.8 KiB, 1.3 MiB, 2.0 MiB "
     "(stage 3.0: task 5))", 10.7 * 2**20),
    ("(min, med, max (stageId: taskId)):\n(1, 2, 3 (stage 152.0: task 308))", 2.0),
])
def test_parse_display(text, value):
    assert parse_display(text) == pytest.approx(value)


def test_parse_display_rejects_unknown():
    with pytest.raises(ValueError):
        parse_display("n/a")
    with pytest.raises(ValueError):
        parse_display("3 parsecs")


# a child that ignores SIGTERM and starts a grandchild that ignores it too
_STUBBORN = """
import signal, subprocess, sys, time
signal.signal(signal.SIGTERM, signal.SIG_IGN)
subprocess.Popen([sys.executable, "-c",
                  "import signal, time; signal.signal(signal.SIGTERM, signal.SIG_IGN); time.sleep(60)"])
time.sleep(60)
"""


def test_stop_descendants_ends_the_whole_tree():
    child = subprocess.Popen([sys.executable, "-c", _STUBBORN])
    deadline = time.monotonic() + 20
    while len(procfs.descendants(os.getpid())) < 2:
        assert time.monotonic() < deadline, "the grandchild never started"
        time.sleep(0.05)
    tree = procfs.descendants(os.getpid())
    assert procfs.stop_descendants(grace_s=0.5, kill_s=10) == []
    assert child.poll() is not None
    # the grandchild was orphaned when its parent died, and still ended
    assert all(not os.path.exists(f"/proc/{p}") or procfs._stat(p)[0] == "Z" for p in tree)
