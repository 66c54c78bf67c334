"""Output checks, all computed outside graft.

Catalog: a query's parquet output is compared with DuckDB running that
query's `SparkEntry.oracleSql` on the same fixture, canonicalised as
`tools/check_oracle.py` does (column names, row count, values).

stream_panes: DuckDB recomputes, from the generated micro-batch files alone,
each batch's watermark and each window's admitted events. Three properties
are checked against the file sink's panes and the engine's progress:
each window's last pane equals the sum of its admitted events, no pane is
written after the batch that first reaches its window's lateness horizon,
and no state rows remain after the flush.
"""
import json
import os
import sys

import duckdb
import pyarrow.dataset as ds

sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
import check_oracle  # noqa: E402  (the catalog's own canonicalisation)


def compare(s_cols, s_rows, d_cols, d_rows):
    """None when the two results agree, else a one-line mismatch."""
    sc, sr = check_oracle.canon(list(s_cols), list(s_rows))
    dc, dr = check_oracle.canon(list(d_cols), list(d_rows))
    if sc != dc:
        return f"columns graft={sc} duckdb={dc}"
    if len(sr) != len(dr):
        return f"rows graft={len(sr)} duckdb={len(dr)}"
    bad = [(a, b) for a, b in zip(sr, dr) if a != b]
    if bad:
        return f"{len(bad)}/{len(sr)} rows differ; first graft={bad[0][0]} duckdb={bad[0][1]}"
    return None


def duck(fixture):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=1")
    for t in check_oracle.TABLES:
        p = os.path.join(fixture, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def read_rows(path):
    tbl = ds.dataset(path, format="parquet").to_table()
    cols = list(tbl.column_names)
    return cols, [tuple(d[c] for c in cols) for d in tbl.to_pylist()]


def catalog(con, name, sql, result_dir):
    """None when graft's output for `name` matches DuckDB, else why not."""
    if check_oracle.lint_types(con, name, sql):
        return "oracle emits types graft cannot"
    cur = con.execute(sql)
    d_cols = [c[0] for c in cur.description]
    s_cols, s_rows = read_rows(result_dir)
    return compare(s_cols, s_rows, d_cols, cur.fetchall())


# ---------------------------------------------------------------- stream

def stream_expected(input_dir, meta):
    """From the generated files alone: rows per file, the watermark each
    batch runs under, and {(key, window_start_ms): (sum, count)} over the
    admitted events. A batch's watermark is the largest event time of the
    files before it minus the delay; an event is admitted while its batch's
    watermark is below window end + allowed lateness."""
    con = duckdb.connect()
    con.execute("SET threads=1")
    W, L, D = meta["window_ms"], meta["lateness_ms"], meta["delay_ms"]
    con.execute(f"""
        CREATE VIEW ev AS
        SELECT CAST(regexp_extract(filename, 'batch-([0-9]+)', 1) AS BIGINT) AS f,
               k, epoch_ms(ts) AS t, v
        FROM read_parquet('{input_dir}/batch-*.parquet', filename = true)""")
    per_file = con.execute("SELECT f, count(*), max(t) FROM ev GROUP BY f ORDER BY f").fetchall()
    rows = [n for _, n, _ in per_file]
    wm, running = [], 0
    for _, _, mx in per_file:
        wm.append(max(0, running - D) if running else 0)
        running = max(running, mx)
    con.execute("CREATE TABLE wm (f BIGINT, wm BIGINT)")
    con.executemany("INSERT INTO wm VALUES (?, ?)", list(enumerate(wm)))
    exp = con.execute(f"""
        SELECT k, (t // {W}) * {W} AS ws, sum(v), count(*)
        FROM ev JOIN wm USING (f)
        WHERE k <> ? AND wm.wm < (t // {W}) * {W} + {W} + {L}
        GROUP BY ALL""", [meta["flush_key"]]).fetchall()
    return rows, wm, {(k, int(ws)): (int(s), int(n)) for k, ws, s, n in exp}


def sink_panes(sink_dir):
    """Pane rows of a parquet file sink, each tagged with the micro-batch
    whose entry in the sink's metadata log lists its file."""
    log = os.path.join(sink_dir, "_spark_metadata")
    out = []
    entries = [e for e in os.listdir(log) if e.split(".")[0].isdigit()]  # not .crc files
    for entry in sorted(entries, key=lambda s: int(s.split(".")[0])):
        batch = int(entry.split(".")[0])
        with open(os.path.join(log, entry)) as f:
            files = [json.loads(line)["path"] for line in f.read().splitlines()[1:] if line]
        for p in files:
            local = os.path.join(sink_dir, os.path.basename(p))
            cols, rows = read_rows(local)
            out += [dict(zip(cols, r), batch=batch) for r in rows]
    return out


def stream(expected, panes, batches, meta):
    """Mismatches between one pass's output and what the files imply.
    `expected` is stream_expected's result; `batches` the pass's progress
    records (batch_id, input_rows, state_rows)."""
    rows, wm, want = expected
    W, L = meta["window_ms"], meta["lateness_ms"]
    bad = []
    # batch b must have read file b, so file-derived watermarks apply to it
    order = sorted(batches, key=lambda b: b["batch_id"])
    got = [(b["batch_id"], b["input_rows"]) for b in order]
    if got != list(enumerate(rows)):
        bad.append(f"(batch, input rows) {got} != (file, rows) {list(enumerate(rows))}")
    by_window = {}
    for p in panes:
        by_window.setdefault((p["k"], int(p["wstart"])), []).append(p)
    for w in sorted(set(want) - set(by_window)):
        bad.append(f"window {w}: no pane, expected sum {want[w][0]}")
    for w, ps in sorted(by_window.items()):
        idx = sorted(p["pane_index"] for p in ps)
        if idx != list(range(len(ps))):
            bad.append(f"window {w}: pane indices {idx}")
            continue
        last = max(ps, key=lambda p: p["pane_index"])
        if w not in want:
            bad.append(f"window {w}: panes for a window with no admitted event")
        elif last["value"] != want[w][0]:
            bad.append(f"window {w}: last pane {last['value']} != admitted sum {want[w][0]}")
        horizon = w[1] + W + L
        first_past = next((b for b, m in enumerate(wm) if m >= horizon), len(wm))
        late = [p for p in ps if p["batch"] > first_past]
        if late:
            bad.append(f"window {w}: pane in batch {late[0]['batch']} after its horizon "
                       f"was reached in batch {first_past}")
    final = max(batches, key=lambda b: b["batch_id"])["state_rows"] if batches else -1
    if final != 0:
        bad.append(f"state rows after the flush: {final}")
    return bad
