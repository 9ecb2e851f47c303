"""Seeded benchmark inputs and their expected outputs.

Run as a child process (``python3 perfbench/corpus.py <workload> <seed>
<out_dir>``) so generator and oracle memory never shows in the timed
process's ``peak_rss_mb``. The corpus is written under a temporary
directory that is renamed into place only after ``expect.json`` is
complete, so an interrupted build never leaves a directory that a later
run would take for a finished one.

Access corpora follow ``ngxspark.gen``'s layout and class mix (the same
columns, Zipf-ish ``conv_id``, per-mille classes), but every value is
drawn from ``numpy.random.default_rng(seed)``, so a seed names a corpus.
Expected outputs come from ``ngxspark.oracle`` (row fields, reject
reasons) and, for ``curation_guards``, from DuckDB over
``queries.oracle_sql()``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

EPOCH_2024 = 1704067200
ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["bash", "read", "write", "grep", "edit", "none"]
UAS = [
    "Mozilla/5.0 (X11; Linux x86_64)",
    "curl/8.5.0",
    "python-requests/2.31",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_2)",
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
]
PATHS = ["/", "/index.html", "/api/v1/items", "/static/app.js", "/login", "/search"]
STATUSES = [200, 200, 200, 200, 301, 302, 404, 403, 500, 503]

# class codes
CLEAN, TRICKY, JUNK, BADSTATUS = 0, 1, 2, 3
CLASS_NAMES = {CLEAN: "clean", TRICKY: "escaped_quote_ua", JUNK: "junk",
               BADSTATUS: "bad_status"}
# (per-mille lower bound, class): gen.py's mix
ACCESS_MIX = [(0, CLEAN), (935, TRICKY), (965, JUNK), (985, BADSTATUS)]

# field-checked share: 1/500 of clean rows, 1/16 of every other class
SAMPLE_MOD_CLEAN, SAMPLE_MOD_OTHER = 500, 16
CONV_BUCKETS = 64  # aggregate.turns_per_conversation default


@dataclass(frozen=True)
class AccessSpec:
    rows: int
    files: int  # 0: one file per Spark core


def _pick(rng: np.random.Generator, options: list, n: int) -> np.ndarray:
    return np.asarray(options, dtype=object)[rng.integers(0, len(options), n)]


def access_table(spec: AccessSpec, seed: int) -> tuple[pa.Table, np.ndarray, np.ndarray]:
    """The corpus as one table, plus each row's class code and the status
    the generator wrote into its line."""
    n = spec.rows
    rng = np.random.default_rng(seed)
    n_convs = max(n // 40, 1)
    conv_ix = np.floor(n_convs * rng.random(n) ** 3).astype(np.int64)
    conv_id = [f"conv-{c:06d}" for c in conv_ix.tolist()]
    order = np.lexsort((np.arange(n), conv_ix))
    turn_idx = np.empty(n, dtype=np.int32)
    sorted_conv = conv_ix[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_conv)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, n]))
    turn_idx[order] = (np.arange(n) - run_start).astype(np.int32)

    role = _pick(rng, ROLES, n)
    tool = _pick(rng, TOOLS, n)
    ts_s = EPOCH_2024 + np.arange(n, dtype=np.int64) * 3 + rng.integers(0, 3, n)
    ts = ts_s.astype("datetime64[s]")
    time_local = np.datetime_as_string(ts, unit="s")

    klass_pm = rng.integers(0, 1000, n)
    klass = np.zeros(n, dtype=np.int8)
    for lo, code in ACCESS_MIX:
        klass[klass_pm >= lo] = code

    ip = rng.integers(0, 256, (n, 2))
    ip3 = rng.integers(1, 255, n)
    anon = rng.random(n) < 0.25
    user_n = rng.integers(0, 2000, n)
    path = _pick(rng, PATHS, n)
    q = rng.integers(0, 1000, n)
    status = np.asarray(STATUSES)[rng.integers(0, len(STATUSES), n)]
    body = rng.integers(0, 100000, n)
    ref_dash = rng.random(n) < 1 / 3
    ref_n = rng.integers(0, 50, n)
    ua = _pick(rng, UAS, n)
    uav = rng.integers(0, 9, n)
    junk_n = rng.integers(0, 100000, n)
    months = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]

    # per-row formatting runs over Python lists: numpy scalar indexing is
    # several times slower than list indexing in a 1M-iteration loop
    tl = [f"{t[8:10]}/{months[int(t[5:7]) - 1]}/{t[0:4]}:{t[11:19]} +0000"
          for t in time_local.tolist()]
    ipa, ipb, ip3l = ip[:, 0].tolist(), ip[:, 1].tolist(), ip3.tolist()
    user = ["-" if a else f"u{u:04d}" for a, u in zip(anon.tolist(), user_n.tolist())]
    ref = ["-" if d else f"https://ref.example/{r}" for d, r in zip(ref_dash.tolist(), ref_n.tolist())]
    agent = ua.copy()
    tr = klass == TRICKY
    agent[tr] = [f'Agent \\"v{v}\\" \\\\build' for v in uav[tr].tolist()]
    agent = agent.tolist()
    st = ["abc" if k == BADSTATUS else str(x) for k, x in zip(klass.tolist(), status.tolist())]
    pathl, ql, bodyl, kl, junkl = path.tolist(), q.tolist(), body.tolist(), klass.tolist(), junk_n.tolist()
    text = [
        f"!corrupt!{junkl[i]} << truncated" if kl[i] == JUNK else
        f'10.{ipa[i]}.{ipb[i]}.{ip3l[i]} - {user[i]} [{tl[i]}] '
        f'"GET {pathl[i]}?q={ql[i]} HTTP/1.1" {st[i]} {bodyl[i]} "{ref[i]}" "{agent[i]}"'
        for i in range(n)
    ]
    table = pa.table({
        "conv_id": pa.array(conv_id, pa.string()),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(role.tolist(), pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(tool.tolist(), pa.string()),
        "ts": pa.array(ts_s * 1_000_000, pa.timestamp("us", tz="UTC")),
    })
    return table, klass, status


def write_files(table: pa.Table, out_dir: str, n_files: int, seed: int) -> None:
    """Rows shuffled, then cut into ``n_files`` near-equal parquet files
    (what ``gen.write_transcripts``'s ``repartition(n_files)`` produces)."""
    perm = np.random.default_rng(seed ^ 0x5EED).permutation(table.num_rows)
    shuffled = table.take(pa.array(perm))
    edges = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for f in range(n_files):
        pq.write_table(
            shuffled.slice(edges[f], edges[f + 1] - edges[f]),
            os.path.join(out_dir, f"part-{f:05d}.parquet"),
            compression="snappy",
        )


# --- Spark's xxhash64 (seed 42) for the conv_id bucket expectation ---------

_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def _merge(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 as Spark's ``xxhash64`` computes it for a UTF-8 string;
    returned as a signed 64-bit value."""
    n = len(data)
    p = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while p + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[p:p + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[p + 8:p + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[p + 16:p + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[p + 24:p + 32], "little"))
            p += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while p + 8 <= n:
        h ^= _round(0, int.from_bytes(data[p:p + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        p += 8
    if p + 4 <= n:
        h ^= (int.from_bytes(data[p:p + 4], "little") * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        p += 4
    while p < n:
        h ^= (data[p] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        p += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


# --- expectations ----------------------------------------------------------


def _jsonable(v):
    return v.decode("utf-8") if isinstance(v, bytes) else v


def access_expectations(table: pa.Table, klass: np.ndarray, status: np.ndarray) -> dict:
    """Per-sink counts, reject reasons, the four pipeline aggregates and a
    field-by-field row sample.

    ``ngxspark.oracle`` decodes every non-clean row and a hash sample of
    clean ones (the interpreter runs ~30 µs a row, too slow for every row
    of every seed); reject reasons and sample fields are its output. The
    sink of an unsampled clean row follows from the status the generator
    wrote, and the build stops if the oracle's verdict or status on any
    decoded row disagrees with the generator's."""
    import pandas as pd

    from ngxspark.oracle import DecodeError, _decode
    from ngxspark.pipeline import combined_plan

    plan = combined_plan()
    names = [f.name for f in plan.fields]
    text = table.column("text").to_pylist()
    conv = table.column("conv_id").to_pylist()
    turn = table.column("turn_idx").to_numpy()
    n = len(text)
    conv_h = {c: xxhash64(c.encode()) for c in set(conv)}
    conv_hash = np.fromiter((conv_h[c] for c in conv), np.int64, n)
    accepted = np.isin(klass, (CLEAN, TRICKY))
    h = conv_hash ^ turn
    in_sample = np.where(klass == CLEAN, h % SAMPLE_MOD_CLEAN, h % SAMPLE_MOD_OTHER) == 0
    # every reject is decoded: the reject reasons are the oracle's strings
    decoded = in_sample | ~accepted

    reasons: dict[str, int] = {}
    sample = {}
    for i in np.flatnonzero(decoded).tolist():
        try:
            got = _decode(plan.ops, plan.fmt.esc, text[i].encode("utf-8"))
            err = None
        except DecodeError as e:
            got, err = None, str(e)
        if (err is None) != accepted[i] or (got is not None and got["status"] != status[i]):
            raise RuntimeError(f"oracle and generator disagree on row {i}: {text[i]!r}")
        if err is not None:
            reasons[err] = reasons.get(err, 0) + 1
        if in_sample[i]:
            sample[f"{conv[i]}|{turn[i]}"] = {
                "error": err,
                "fields": None if got is None else {k: _jsonable(got[k]) for k in names},
            }
    if sum(reasons.values()) != int((~accepted).sum()):
        raise RuntimeError("reject count does not match the generator's reject classes")

    status_class = np.asarray(["unknown", "1xx", "2xx", "3xx", "4xx", "5xx"], dtype=object)[
        np.where(accepted, status // 100, 0)]
    sink = np.asarray(["ok", "ok", "ok", "redirect", "client_error", "server_error"], dtype=object)[
        status // 100]
    sink[~accepted] = "reject"
    ts_s = table.column("ts").cast(pa.int64()).to_numpy() // 1_000_000
    df = pd.DataFrame({
        "sink": sink, "sc": status_class, "role": table.column("role").to_pylist(),
        "bucket": conv_hash % CONV_BUCKETS, "hour": ts_s // 3600 * 3600,
    })

    def counts(frame, keys) -> dict[str, int]:
        g = frame.groupby(keys).size()
        return {"|".join(str(x) for x in (k if isinstance(k, tuple) else (k,))): int(v)
                for k, v in g.items()}

    mix = {CLASS_NAMES[c]: int((klass == c).sum()) for c in CLASS_NAMES if (klass == c).any()}
    return {
        "rows": n,
        "class_mix": mix,
        "per_sink": counts(df, "sink"),
        "reject_reasons": reasons,
        "by_role_status": counts(df, ["role", "sc"]),
        "by_conv_bucket": counts(df, "bucket"),
        "by_window": counts(df[df.sink != "reject"], ["hour", "sc"]),
        "sample": sample,
    }


# --- curation tables -------------------------------------------------------

WORDS = ("batch part spark line column order small sort fast value scan a hash slow group agg "
         "filter query big key window row table stream merge data vector").split()
LANGS = ["en", "de", "fr", "zh", "es"]
CURATION_QUERIES = ("d4_prune", "corpus_curation_staged", "semdedup", "dedup_clusters")


def curation_tables(seed: int, out_dir: str, n_docs: int = 5000, n_vecs: int = 2000,
                    dim: int = 64) -> None:
    """``documents`` and ``embeddings`` with sf0.1's schema and sizes."""
    rng = np.random.default_rng(seed)
    texts = []
    for i in range(n_docs):
        if i >= 50 and rng.random() < 0.05:  # near-duplicates: copy + one word changed
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = list(np.asarray(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(8, 80)))])
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n_docs).tolist(), pa.string()),
        "source": pa.array([f"src{int(x)}" for x in rng.integers(0, 8, n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 8, n_vecs)
    centres = rng.normal(0, 1, (8, dim))
    vecs = centres[labels] * 0.3 + rng.normal(0, 0.1, (n_vecs, dim))
    # near-duplicate vectors so semdedup clusters are non-trivial
    dup = rng.random(n_vecs) < 0.05
    src = rng.integers(0, n_vecs, n_vecs)
    vecs[dup] = vecs[src[dup]] + rng.normal(0, 1e-4, (int(dup.sum()), dim))
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True) * 0.8
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


def canon_rows(rows: list[tuple]) -> list[str]:
    """Order-insensitive canonical form shared by the DuckDB and Spark sides:
    every cell as ``repr`` of its Python value, floats at 6 decimals."""
    def cell(v):
        if isinstance(v, float):
            return repr(round(v, 6))
        if hasattr(v, "item"):
            return cell(v.item())
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return repr(v)
    return sorted("|".join(cell(v) for v in r) for r in rows)


def curation_expectations(data_dir: str) -> dict:
    import duckdb

    from ngxspark.queries import oracle_sql

    sqls = oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {}
    for q in CURATION_QUERIES:
        res = con.execute(sqls[q])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out[q] = {"columns": cols, "rows": canon_rows(rows)}
    con.close()
    return {"queries": out}


# --- build -----------------------------------------------------------------

WORKLOAD_INPUTS = {
    # name: (kind, spec)
    "flagship": ("access", AccessSpec(rows=200_000, files=256)),
    "report_fanout": ("access", AccessSpec(rows=25_000, files=0)),
    "curation": ("curation", None),
}


def cache_key(workload: str, seed: int, cores: int) -> str:
    """Directory name of a built corpus: changes whenever its inputs do."""
    kind, spec = WORKLOAD_INPUTS[workload]
    size = f"{spec.rows}r{spec.files or cores}f" if spec else "sf0.1"
    return f"{workload}-{size}-s{seed}"


def build(workload: str, seed: int, out_dir: str, cores: int) -> None:
    """Build ``out_dir`` atomically: tmp dir, then rename."""
    parent = os.path.dirname(out_dir)
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".build-", dir=parent)
    try:
        kind, spec = WORKLOAD_INPUTS[workload]
        data = os.path.join(tmp, "data")
        os.makedirs(data)
        if kind == "access":
            table, klass, status = access_table(spec, seed)
            write_files(table, data, spec.files or cores, seed)
            expect = access_expectations(table, klass, status)
        else:
            curation_tables(seed, data)
            expect = curation_expectations(data)
        expect["workload"] = workload
        expect["seed"] = seed
        with open(os.path.join(tmp, "expect.json"), "w") as f:
            json.dump(expect, f, sort_keys=True)
        os.rename(tmp, out_dir)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise


if __name__ == "__main__":
    build(sys.argv[1], int(sys.argv[2]), sys.argv[3], int(sys.argv[4]))
