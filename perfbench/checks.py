"""Output checks, run after the benchmark JVM has exited, so no check is
ever inside a timed region. Each check marks the operations whose output is
wrong: `ok` becomes false and `error` says why."""
import glob
import hashlib
import json
import os
import sys
import urllib.parse

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

from gen import EVENT_COLS, LI_COLS, LI_NUM, NULL_INT, canon_events, canon_lineitem, table_checksum


def _fail(op, why):
    op["ok"] = False
    op["error"] = why


def _md5(path):
    h = hashlib.md5()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _read_leg(path):
    if path.endswith(".csv"):
        opts = pacsv.ConvertOptions(column_types={c: pa.string() for c in LI_COLS},
                                    strings_can_be_null=False)
        t = pacsv.read_csv(path, convert_options=opts)
    else:
        t = pq.read_table(path)
    return t.to_pandas()


def _leg_error(path, drift, manifest):
    df = _read_leg(path)
    if sorted(df.columns) != sorted(LI_COLS):
        return f"columns {sorted(df.columns)} != {sorted(LI_COLS)}"
    if len(df) != manifest["rows"]:
        return f"rows {len(df)} != {manifest['rows']}"
    canon = canon_lineitem({c: df[c] for c in df.columns})
    want = manifest["drift_checksum" if drift else "checksum"]
    got = table_checksum(canon)
    if got != want:
        return f"checksum {got} != {want}"
    if drift:
        nulls = {c: int((canon[c] == NULL_INT).sum()) if c in LI_NUM else int((canon[c] == "").sum())
                 for c in LI_COLS}
        if nulls != manifest["drift_nulls"]:
            return f"null counts {nulls} != {manifest['drift_nulls']}"
    return None


def check_convert(ops, manifest):
    """Each leg's output: row count and order-independent checksum against
    the manifest; the drift leg's per-column null counts too. Identical
    output files are checked once."""
    seen = {}
    for op in ops:
        if not op["ok"]:
            continue
        drift = op["name"] == "drift_to_parquet"
        key = (_md5(op["output"]), drift)
        if key not in seen:
            seen[key] = _leg_error(op["output"], drift, manifest)
        if seen[key]:
            _fail(op, seen[key])
        op["out_bytes"] = os.path.getsize(op["output"])


def _sink_log(sink):
    """Committed file set through batch b, from the file sink's own log."""
    log = os.path.join(sink, "_spark_metadata")
    names = os.listdir(log) if os.path.isdir(log) else []
    compacts = sorted(int(n.split(".")[0]) for n in names if n.endswith(".compact"))
    parsed = {}

    def entries(name):
        if name not in parsed:
            files = {}
            p = os.path.join(log, name)
            if os.path.exists(p):
                with open(p) as f:
                    for line in f.read().splitlines()[1:]:
                        e = json.loads(line)
                        if e.get("action") == "add":
                            files[urllib.parse.urlparse(e["path"]).path] = e["size"]
            parsed[name] = files
        return parsed[name]

    def committed(b):
        base = max((c for c in compacts if c <= b), default=None)
        files = dict(entries(f"{base}.compact")) if base is not None else {}
        for i in range((base + 1) if base is not None else 0, b + 1):
            files.update(entries(str(i)))
        return files

    return committed


def check_stream(ops, manifest, sink):
    """After every wave the committed output holds exactly the rows landed so
    far: the files a wave's commit added hold exactly that wave's rows (plus
    those of an earlier failed wave), every column checked by the rows'
    order-independent checksum, none twice, and no earlier committed file
    disappears."""
    committed = _sink_log(sink)
    waves = {w["wave"]: w for w in manifest["waves"]}
    prev, expected, want = {}, [], 0
    for op in sorted(ops, key=lambda o: o["wave"]):
        w = waves[op["wave"]]
        for kind in ("csv", "parquet"):
            expected += list(range(w[kind]["lo"], w[kind]["hi"]))
            want = (want + int(w[kind]["checksum"])) % (1 << 64)
        op["in_bytes"] = w["csv"]["bytes"] + w["parquet"]["bytes"]
        op["rows"] = (w["csv"]["hi"] - w["csv"]["lo"]) + (w["parquet"]["hi"] - w["parquet"]["lo"])
        if not op["ok"]:
            continue
        now = committed(op["batch"]) if op["batch"] >= 0 else {}
        if not set(prev) <= set(now):
            _fail(op, "committed files disappeared")
            continue
        new = sorted(set(now) - set(prev))
        rows = pd.concat([pd.read_parquet(p) for p in new], ignore_index=True) if new else None
        ids = rows["event_id"].tolist() if new else []
        op["out_files"] = len(new)
        op["out_bytes"] = sum(now[p] for p in new)
        if new and sorted(rows.columns) != sorted(EVENT_COLS):
            _fail(op, f"columns {sorted(rows.columns)} != {sorted(EVENT_COLS)}")
        elif sorted(ids) != sorted(expected):
            _fail(op, f"wave committed {len(ids)} rows ({len(set(ids))} distinct), "
                      f"landed {len(expected)}")
        elif table_checksum(canon_events(rows)) != str(want):
            _fail(op, "wave committed the landed event ids with other column values")
        prev, expected, want = now, [], 0


def _oracle_answers(names, oracle, sf_dir, fingerprint, cache_dir, oracle_check):
    """(columns, rows, hash, error) per query from DuckDB. Answers are kept
    under cache_dir keyed by the inputs' fingerprint and the SQL, so the same
    seed never pays for them twice."""
    con, answers = None, {}
    for name in names:
        key = hashlib.sha256(f"{fingerprint}\0{oracle[name]}".encode()).hexdigest()
        path = os.path.join(cache_dir, key + ".json")
        if os.path.exists(path):
            answers[name] = tuple(json.load(open(path)))
            continue
        if con is None:
            con = duckdb.connect()
            for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
                t = os.path.basename(p)[:-len(".parquet")]
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        try:
            e = oracle_check.canon(con.execute(oracle[name]).df())
            answers[name] = (sorted(e.columns), len(e), oracle_check.h(e), None)
        except Exception as ex:  # an oracle that cannot run fails its query
            answers[name] = (None, None, None, f"oracle: {ex}")
            continue
        os.makedirs(cache_dir, exist_ok=True)
        with open(path, "w") as f:
            json.dump(answers[name], f)
    return answers


def check_curate(ops, sf_dir, out_dir, fingerprint, root, cache_dir):
    """Every query result against its SparkEntry.oracleSql run in DuckDB over
    the same generated tables, with tools/oracle_check.py's canonicalization
    (order-insensitive)."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import oracle_check
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    expected = _oracle_answers(sorted({o["name"] for o in ops if o["ok"]}), oracle,
                               sf_dir, fingerprint, cache_dir, oracle_check)
    for op in ops:
        if not op["ok"]:
            continue
        cols, n, digest, err = expected[op["name"]]
        files = sorted(glob.glob(os.path.join(op["output"], "*.parquet")))
        if err:
            _fail(op, err)
        elif not files:
            _fail(op, "no output")
        else:
            got = oracle_check.canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
            if sorted(got.columns) != cols:
                _fail(op, f"columns {sorted(got.columns)} != {cols}")
            elif len(got) != n:
                _fail(op, f"rows {len(got)} != {n}")
            elif oracle_check.h(got) != digest:
                _fail(op, "hash mismatch against the DuckDB oracle")
