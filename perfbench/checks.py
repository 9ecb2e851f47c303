"""Output checks. Each returns a list of mismatch descriptions, empty when
the output is right; a pass with any mismatch counts as failed."""

from __future__ import annotations

from perfbench.corpus import canon_rows

_SINK_OF_CLASS = {"5": "server_error", "4": "client_error", "3": "redirect"}


def _diff(name: str, want: dict, got: dict) -> list[str]:
    keys = sorted(set(want) | set(got), key=str)
    return [f"{name}[{k}]: want {want.get(k)} got {got.get(k)}"
            for k in keys if want.get(k) != got.get(k)]


def check_counts(expect: dict, per_sink: dict, reasons: dict | None = None) -> list[str]:
    """Per-sink row counts and, when given, reject-reason (``_error``) counts."""
    bad = _diff("per_sink", expect["per_sink"], per_sink)
    if reasons is not None:
        bad += _diff("reject_reasons", expect["reject_reasons"], reasons)
    return bad


def check_sample(expect: dict, rows: list[dict]) -> list[str]:
    """Field-by-field comparison of the sampled rows with the oracle."""
    sample = expect["sample"]
    bad = []
    seen = set()
    for r in rows:
        key = f"{r['conv_id']}|{r['turn_idx']}"
        seen.add(key)
        want = sample.get(key)
        if want is None:
            bad.append(f"row {key} is not in the sample")
            continue
        if r["_error"] != want["error"] or r["_matched"] != (want["error"] is None):
            bad.append(f"row {key}: _matched/_error {r['_matched']}/{r['_error']!r}, "
                       f"want error {want['error']!r}")
            continue
        fields = want["fields"] or {}
        for k, v in fields.items():
            if r[k] != v:
                bad.append(f"row {key}: {k} = {r[k]!r}, want {v!r}")
        want_sink = ("reject" if want["error"] is not None
                     else _SINK_OF_CLASS.get(str(fields["status"])[0], "ok"))
        if r["sink"] != want_sink:
            bad.append(f"row {key}: sink {r['sink']!r}, want {want_sink!r}")
    missing = len(set(sample) - seen)
    if missing:
        bad.append(f"{missing} sampled rows missing from the output")
    return bad


def check_aggregates(expect: dict, aggs: dict[str, list[dict]]) -> list[str]:
    """The four ``pipeline_aggregates`` outputs."""
    got = {
        "per_sink": {r["sink"]: r["cnt"] for r in aggs["per_sink"]},
        "by_role_status": {f"{r['role']}|{r['status_class']}": r["cnt"]
                           for r in aggs["by_role_status"]},
        "by_conv_bucket": {str(r["conv_bucket"]): r["cnt"] for r in aggs["by_conv_bucket"]},
        # collected timestamps are naive local times; .timestamp() undoes that
        "by_window": {f"{int(r['window_start'].timestamp())}|{r['status_class']}": r["cnt"]
                      for r in aggs["by_window"]},
    }
    bad = []
    for name, g in got.items():
        bad += _diff(name, expect[name], g)
    return bad


def check_query(expect: dict, columns: list[str], rows: list[tuple]) -> list[str]:
    """A curation query's rows against DuckDB's, order-insensitive, columns
    matched by name."""
    want_cols = expect["columns"]
    if sorted(columns) != sorted(want_cols):
        return [f"columns {sorted(columns)}, want {sorted(want_cols)}"]
    order = [columns.index(c) for c in want_cols]
    got = canon_rows([tuple(r[i] for i in order) for r in rows])
    if got == expect["rows"]:
        return []
    want = expect["rows"]
    extra = len(set(got) - set(want))
    missing = len(set(want) - set(got))
    return [f"{len(got)} rows, want {len(want)}; {extra} unexpected, {missing} missing"]
