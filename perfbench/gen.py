#!/usr/bin/env python3
"""Seeded input generator for the three benchmark workloads.

One seed fixes every byte the program under test receives. Each workload
gets its own directory and a manifest (seed, rows, bytes, files, a content
fingerprint and the expected answers the output checks compare against).

    python3 perfbench/gen.py --workload convert --seed 7 --out DIR
    python3 perfbench/gen.py --check          # same seed -> identical bytes

Single process, numpy + pyarrow only; no thread pools are started here.
"""
import argparse
import hashlib
import itertools
import json
import os
import shutil
import sys
import tempfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# convert: a lineitem-shaped table, split into shards of seeded sizes.
LINEITEM_ROWS = 50_000
LINEITEM_SHARDS = 12
# Columns in sorted order: the unified order graft writes, so the CSV->CSV
# leg can take the byte path and the parquet leg the row-group copy.
LI_COLS = ["l_discount", "l_extendedprice", "l_linenumber", "l_linestatus",
           "l_orderkey", "l_partkey", "l_quantity", "l_returnflag",
           "l_shipdate", "l_suppkey", "l_tax"]
LI_NUM = {"l_discount", "l_extendedprice", "l_linenumber", "l_orderkey",
          "l_partkey", "l_quantity", "l_suppkey", "l_tax"}
LI_DATE = {"l_shipdate"}
DRIFT_DROPPED = "l_tax"        # omitted by the drifted shards
DRIFT_INTEGER = "l_quantity"   # written as integers by the drifted shards

# stream_ingest: small waves of events, each one CSV file and one parquet file.
# enough for a window of --seconds 4 at 0.2 s a wave, after the warm-up
WAVES = 40
# sizes vary with the seed within a narrow band: the wave latency is mostly
# fixed cost, so bytes per wave would otherwise set the MB/s figure
WAVE_ROWS = (350, 450)
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])

# curate: documents over the fixture vocabulary plus planted near-duplicates.
DOCS = 200
NEAR_DUP_SHARE = 0.1
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
# a long tail of rare terms, so retrieval has terms with a small document
# frequency (BM25 term selection refuses a corpus without any)
RARE = np.array([f"term{i}" for i in range(400)])
RARE_SHARE = 0.08
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
NULL_INT = -1  # canonical null for the numeric columns (all values are >= 0)


def _fingerprint(root):
    h = hashlib.sha256()
    files, nbytes = 0, 0
    for dirpath, dirs, names in os.walk(root):
        dirs.sort()
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            rel = os.path.relpath(p, root)
            if rel == "manifest.json":
                continue
            with open(p, "rb") as f:
                data = f.read()
            h.update(rel.encode() + b"\0" + hashlib.sha256(data).digest())
            files += 1
            nbytes += len(data)
    return h.hexdigest(), files, nbytes


def _dir_bytes(d):
    return sum(os.path.getsize(os.path.join(d, n)) for n in os.listdir(d))


def table_checksum(df):
    """Order-independent checksum of a canonical frame: the sum of per-row
    hashes mod 2^64, as a decimal string."""
    if len(df) == 0:
        return "0"
    rows = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype=np.uint64)
    return str(int(rows.sum(dtype=np.uint64)))


def canon_lineitem(cols):
    """Canonical lineitem frame from column name -> pandas Series, whatever
    engine or format produced it: numbers as integer hundredths, dates as
    YYYY-MM-DD, strings as-is, nulls as fixed sentinels."""
    out = {}
    for c in LI_COLS:
        s = cols.get(c)
        if s is None:
            s = pd.Series([None] * len(next(iter(cols.values()))), dtype=object)
        if c in LI_NUM:
            v = pd.to_numeric(s.replace("", None), errors="raise").astype("float64")
            out[c] = np.where(v.isna(), NULL_INT,
                              np.round(v.fillna(0).to_numpy() * 100)).astype(np.int64)
        elif c in LI_DATE:
            if pd.api.types.is_datetime64_any_dtype(s):
                out[c] = s.dt.strftime("%Y-%m-%d").fillna("").astype(object)
            else:
                out[c] = s.map(lambda x: "" if x is None or x != x else str(x)[:10]).astype(object)
        else:
            out[c] = s.fillna("").astype(str).astype(object)
    return pd.DataFrame(out, columns=LI_COLS)


EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def canon_events(cols):
    """Canonical events frame from column name -> array-like, whatever
    engine or format produced it: ts as microseconds since the epoch (text is
    parsed, so trailing fractional zeros may be dropped), value as integer
    hundredths, a null value as NULL_INT. The stream sink stringifies ts,
    since the CSV input carries it as text."""
    ts = pd.Series(cols["ts"])
    if not pd.api.types.is_datetime64_any_dtype(ts):
        ts = pd.to_datetime(ts, format="ISO8601")
    if getattr(ts.dt, "tz", None) is not None:
        ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
    return pd.DataFrame({
        "event_id": pd.Series(cols["event_id"]).astype(np.int64).to_numpy(),
        "ts": ts.astype("datetime64[us]").astype(np.int64).to_numpy(),
        "user_id": pd.Series(cols["user_id"]).astype(np.int64).to_numpy(),
        "event_type": pd.Series(cols["event_type"]).astype(str).astype(object).to_numpy(),
        "value": np.round(pd.Series(cols["value"]).astype(np.float64).fillna(NULL_INT / 100)
                          .to_numpy() * 100).astype(np.int64),
        "props": pd.Series(cols["props"]).astype(str).astype(object).to_numpy(),
    })


def _lineitem(rng):
    n = LINEITEM_ROWS
    qty = rng.integers(1, 51, n)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    day0 = np.datetime64("1992-01-01")
    return {
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_extendedprice": price,
        "l_linenumber": rng.integers(1, 8, n),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        "l_orderkey": np.sort(rng.integers(1, 600_000, n)),
        "l_partkey": rng.integers(1, 20_001, n),
        "l_quantity": qty.astype(np.float64),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_shipdate": day0 + rng.integers(0, 2500, n).astype("timedelta64[D]"),
        "l_suppkey": rng.integers(1, 1001, n),
        "l_tax": rng.integers(0, 9, n) / 100.0,
    }


def _shard_bounds(rng, n, shards):
    # sizes vary, within a band narrow enough that the per-file task
    # balance (and so the leg's wall) does not depend on the seed
    w = rng.uniform(0.8, 1.2, shards)
    cuts = np.round(np.cumsum(w) / w.sum() * n).astype(int)
    cuts[-1] = n
    return list(zip(np.concatenate([[0], cuts[:-1]]), cuts))


def _decimal_text(v):
    """Two-digit decimal text of non-negative values, rendered in Arrow."""
    cents = pa.array(np.round(v * 100).astype(np.int64))
    units = pc.divide(cents, 100)
    frac = pc.utf8_lpad(pc.cast(pc.subtract(cents, pc.multiply(units, 100)), pa.string()), 2, "0")
    return pc.binary_join_element_wise(pc.cast(units, pa.string()), frac, ".")


def _csv_text(cols, names, integer_cols=()):
    """Text columns for CSV: decimals with two fractional digits unless
    listed in integer_cols, dates as YYYY-MM-DD."""
    out = {}
    for c in names:
        v = cols[c]
        if c in integer_cols or v.dtype.kind in "iu":
            out[c] = pc.cast(pa.array(v.astype(np.int64)), pa.string())
        elif v.dtype.kind == "f":
            out[c] = _decimal_text(v)
        elif v.dtype.kind == "M":
            out[c] = pa.array(v).cast(pa.date32()).cast(pa.string())
        else:
            out[c] = pa.array(v)
    return pa.table(out)


def _write_csv(table, path):
    # no value here needs quoting, and the CSV byte path expects an
    # unquoted header, which Arrow's writer does not produce
    with open(path, "wb") as f:
        f.write((",".join(table.column_names) + "\n").encode())
        pacsv.write_csv(table, f, pacsv.WriteOptions(include_header=False, quoting_style="none"))


def gen_convert(rng, out):
    li = _lineitem(rng)
    bounds = _shard_bounds(rng, LINEITEM_ROWS, LINEITEM_SHARDS)
    # a seeded third of the shards drift; never two neighbours and never the
    # first or last shard, so the files always form the same number of
    # same-schema scan groups whichever shards the seed picks
    layouts = [c for c in itertools.combinations(range(1, LINEITEM_SHARDS - 1), LINEITEM_SHARDS // 3)
               if all(b - a > 1 for a, b in zip(c, c[1:]))]
    drifted = list(layouts[int(rng.integers(len(layouts)))])
    for d in ("csv", "parquet", "drift"):
        os.makedirs(os.path.join(out, d))
    text = _csv_text(li, LI_COLS)
    drift_text = _csv_text(li, [c for c in LI_COLS if c != DRIFT_DROPPED],
                           integer_cols=(DRIFT_INTEGER,))
    typed = pa.table({c: pa.array(li[c]) for c in LI_COLS})
    typed = typed.set_column(LI_COLS.index("l_shipdate"), "l_shipdate",
                             typed["l_shipdate"].cast(pa.date32()))
    for i, (lo, hi) in enumerate(bounds):
        _write_csv(text.slice(lo, hi - lo), f"{out}/csv/part-{i:04d}.csv")
        pq.write_table(typed.slice(lo, hi - lo), f"{out}/parquet/part-{i:04d}.parquet",
                       compression="zstd")
        if i in drifted:
            _write_csv(drift_text.slice(lo, hi - lo), f"{out}/drift/part-{i:04d}.csv")
        else:
            shutil.copyfile(f"{out}/csv/part-{i:04d}.csv", f"{out}/drift/part-{i:04d}.csv")
    full = canon_lineitem({c: pd.Series(v) for c, v in li.items()})
    drift = full.copy()
    mask = np.zeros(LINEITEM_ROWS, dtype=bool)
    for i in drifted:
        mask[bounds[i][0]:bounds[i][1]] = True
    drift.loc[mask, DRIFT_DROPPED] = NULL_INT
    nulls = {c: 0 for c in LI_COLS}
    nulls[DRIFT_DROPPED] = int(mask.sum())
    return {
        "rows": LINEITEM_ROWS,
        "shards": LINEITEM_SHARDS,
        "drifted_shards": drifted,
        "input_bytes": {d: _dir_bytes(os.path.join(out, d)) for d in ("csv", "parquet", "drift")},
        "checksum": table_checksum(full),
        "drift_checksum": table_checksum(drift),
        "drift_nulls": nulls,
    }


def gen_stream(rng, out):
    pend = os.path.join(out, "pending")
    os.makedirs(pend)
    waves, next_id = [], 0
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    for w in range(WAVES):
        entry = {"wave": w}
        for kind in ("csv", "parquet"):
            n = int(rng.integers(WAVE_ROWS[0], WAVE_ROWS[1] + 1))
            ids = np.arange(next_id, next_id + n, dtype=np.int64)
            next_id += n
            ts = t0 + (ids * 37_000_000 + rng.integers(0, 1_000_000, n)).astype("timedelta64[us]")
            cols = {
                "event_id": ids,
                "ts": ts,
                "user_id": rng.integers(0, 1500, n),
                "event_type": rng.choice(EVENT_TYPES, n),
                "value": np.round(rng.uniform(0, 560, n), 2),
                "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
            }
            path = f"{pend}/wave-{w:04d}.{'csv' if kind == 'csv' else 'parquet'}"
            if kind == "csv":
                text = dict(cols)
                text["ts"] = np.char.replace(np.datetime_as_string(ts, unit="us"), "T", " ")
                pd.DataFrame(text).to_csv(path, index=False, lineterminator="\n", float_format="%.2f")
            else:
                tbl = pa.table({c: pa.array(v) for c, v in cols.items()})
                tbl = tbl.set_column(1, "ts", tbl["ts"].cast(pa.timestamp("us", tz="UTC")))
                pq.write_table(tbl, path, compression="zstd")
            entry[kind] = {"file": os.path.basename(path), "lo": int(ids[0]),
                           "hi": int(ids[-1]) + 1, "bytes": os.path.getsize(path),
                           "checksum": table_checksum(canon_events(cols))}
        waves.append(entry)
    return {"waves": waves, "rows": next_id}


def _near_dup(rng, words):
    w = list(words)
    i = int(rng.integers(0, len(w)))
    if rng.random() < 0.5:
        w[i] = str(VOCAB[int(rng.integers(0, len(VOCAB)))])
    elif i + 1 < len(w):
        w[i], w[i + 1] = w[i + 1], w[i]
    return w


def gen_curate(rng, out):
    sf = os.path.join(out, "sf")
    os.makedirs(sf)
    rare_p = 1.0 / np.arange(1, len(RARE) + 1)
    rare_p /= rare_p.sum()
    texts = []
    for _ in range(DOCS):
        n = int(rng.integers(10, 101))
        words = rng.choice(VOCAB, n).astype(object)
        rare = rng.random(n) < RARE_SHARE
        words[rare] = rng.choice(RARE, int(rare.sum()), p=rare_p)
        texts.append(words.tolist())
    langs = rng.choice(LANGS, DOCS, p=LANG_P)
    sources = np.array([f"src{i % 10}" for i in range(DOCS)])
    sample = np.sort(rng.choice(DOCS, int(DOCS * NEAR_DUP_SHARE), replace=False))
    ids = list(range(DOCS))
    for k, j in enumerate(sample):
        texts.append(_near_dup(rng, texts[j]))
        langs = np.append(langs, langs[j])
        sources = np.append(sources, sources[j])
        ids.append(DOCS + k)
    order = rng.permutation(len(ids))
    text = [" ".join(texts[i]) for i in order]
    tbl = pa.table({
        "doc_id": pa.array(np.array(ids, dtype=np.int64)[order]),
        "text": pa.array(text),
        "lang": pa.array(langs[order]),
        "source": pa.array(sources[order]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })
    pq.write_table(tbl, f"{sf}/documents.parquet", compression="zstd")
    return {"rows": len(ids), "base_docs": DOCS, "near_dups": len(sample),
            "input_bytes": os.path.getsize(f"{sf}/documents.parquet")}


GENERATORS = {"convert": gen_convert, "stream_ingest": gen_stream, "curate": gen_curate}


def generate(workload, seed, out):
    """Write the workload's inputs under `out` (which must not exist) and
    return the manifest, also written to out/manifest.json."""
    os.makedirs(out)
    # one stream per (workload, seed): the workloads never share draws
    rng = np.random.default_rng([seed, list(GENERATORS).index(workload)])
    manifest = {"workload": workload, "seed": seed}
    manifest.update(GENERATORS[workload](rng, out))
    manifest["fingerprint"], manifest["files"], manifest["bytes"] = _fingerprint(out)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def check_determinism(base, seed=1):
    """Generate every workload twice with one seed and once with another;
    the first two must be byte-identical, the third must differ."""
    ok = True
    for w in GENERATORS:
        a = generate(w, seed, os.path.join(base, f"{w}-a"))
        b = generate(w, seed, os.path.join(base, f"{w}-b"))
        c = generate(w, seed + 1, os.path.join(base, f"{w}-c"))
        same = a == b
        differs = a["fingerprint"] != c["fingerprint"]
        print(f"{w}: same seed identical={same} other seed differs={differs} "
              f"files={a['files']} bytes={a['bytes']} fingerprint={a['fingerprint'][:16]}")
        ok = ok and same and differs
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out")
    ap.add_argument("--check", action="store_true",
                    help="check that one seed always yields identical inputs")
    a = ap.parse_args()
    if a.check:
        base = tempfile.mkdtemp(prefix="gencheck-", dir=a.out or ".")
        try:
            return 0 if check_determinism(base) else 1
        finally:
            shutil.rmtree(base, ignore_errors=True)
    if not (a.workload and a.out):
        ap.error("--workload and --out are required")
    print(json.dumps(generate(a.workload, a.seed, a.out), sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
