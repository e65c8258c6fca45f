"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir,
compare row count + column names + order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import time

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "src"))
sys.path.insert(0, os.path.join(REPO, "perfbench"))  # host: code stamp

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except TypeError:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object and len(s) and isinstance(
                s.dropna().iloc[0] if s.dropna().size else None, bytes):
            df[c] = s.map(lambda b: b.hex() if b is not None else None)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("bool")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def dtype_kind(s: pd.Series) -> str:
    """Coarse dtype class for strict comparison. The driver's value
    hash is dtype-sensitive (round-1 verdict: DuckDB HUGEINT → pandas
    float64 vs Spark int64 failed 8 value-exact queries), so a
    float-vs-int divergence must FAIL here even though normalize()
    would mask it."""
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "ts"
    return "obj"


def compare(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    if len(a) != len(b):
        return f"row count {len(a)} vs {len(b)}"
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    for c in sorted(a.columns):
        ka, kb = dtype_kind(a[c]), dtype_kind(b[c])
        if ka != kb:
            return (f"col {c}: dtype kind mismatch spark={a[c].dtype} "
                    f"({ka}) vs oracle={b[c].dtype} ({kb}) — would fail "
                    f"the driver's dtype-sensitive hash")
    a, b = normalize(a), normalize(b)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if pd.api.types.is_float_dtype(a[c]):
            eq = (av == bv) | (np.isnan(av.astype(float)) &
                               np.isnan(bv.astype(float)))
        else:
            eq = (av == bv) | (pd.isna(a[c]).to_numpy() & pd.isna(b[c]).to_numpy())
        if not eq.all():
            i = int(np.argmax(~eq))
            return (f"col {c}: {int((~eq).sum())} diffs, first at row {i}: "
                    f"{av[i]!r} vs {bv[i]!r}")
    return None


def code_stamp(root: str = REPO) -> dict:
    """The revision a gate record vouches for: git HEAD, the dirty flag
    and sha256 hashes of src/ and of the query contract (HEAD alone
    cannot tell two dirty trees apart)."""
    from host import git_state, tree_sha256

    with open(os.path.join(root, "__spark_entry__.py"), "rb") as f:
        entry = hashlib.sha256(f.read()).hexdigest()
    return {**git_state(root), "src_sha256": tree_sha256(root, "src"),
            "entry_sha256": entry}


def resumable_rows(prior: dict, sf_dir: str, stamp: dict) -> dict:
    """Completed rows of an earlier record that --resume may keep: none
    unless it ran over the same sf dir AND carries the same code stamp,
    so a resumed gate never vouches for rows of another revision."""
    if prior.get("sf_dir") != sf_dir or prior.get("code_stamp") != stamp:
        return {}
    return {k: v for k, v in prior.get("queries", {}).items()
            if v.get("status") in ("OK", "rows_only")}


def duckdb_memory_limit(meminfo: str = "/proc/meminfo") -> str:
    """min(32 GB, 75% of MemTotal): a big oracle spills instead of
    taking the whole host (32 GB when MemTotal cannot be read)."""
    from tstoken.session import host_mem_kib
    cap_kib = 32 << 20
    total = host_mem_kib(meminfo)
    kib = cap_kib if total is None else min(cap_kib, total * 3 // 4)
    return f"{kib // 1024}MiB"


def main():
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    resume = "--resume" in args
    if resume:
        args.remove("--resume")
    sf_dir = args[0] if args and os.path.isdir(args[0]) \
        else "/root/testdata/sf0.01"
    only = [a for a in args if not os.path.isdir(a)]

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    # Reproduce the DRIVER's environment faithfully: a vanilla session
    # with no tstoken on the worker PYTHONPATH. A caller's shell that
    # exports PYTHONPATH=src would let the workers import tstoken
    # anyway (it once masked 7 worker-side ModuleNotFoundError crashes
    # from this checker), so executor shipping must come from the
    # queries' own tstoken.session.ship_package alone.
    src_abs = os.path.join(REPO, "src")
    parts = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
             if p and os.path.abspath(p) != src_abs]
    if parts:
        os.environ["PYTHONPATH"] = os.pathsep.join(parts)
    else:
        os.environ.pop("PYTHONPATH", None)
    builder = (SparkSession.builder.appName("check_oracles")
               .master("local[8]")
               .config("spark.sql.shuffle.partitions", "8")
               .config("spark.sql.session.timeZone", "UTC")
               .config("spark.ui.enabled", "false"))
    # default stays the vanilla 1g heap the driver uses at sf0.01; the
    # synthesized large-sf gate (tools/make_bigsf.py) needs more — the
    # exact-baseline BNLJ queries at 50k docs / 8k embeddings die in
    # GC-locker thrash on a 1g driver (observed round 5)
    mem = os.environ.get("CHECK_ORACLES_DRIVER_MEM")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    # Bound DuckDB so a big oracle spills to disk instead of OOM-killing
    # the box: the minhash-md5 pipeline oracle at the synthesized large
    # sf (50k docs) materializes ~10^9 shingle-hash rows and was
    # observed climbing past 90 GB RSS before this limit existed.
    dmem = os.environ.get("CHECK_ORACLES_DUCKDB_MEM") or duckdb_memory_limit()
    spill = os.path.join(tempfile.gettempdir(), "check_oracles_duckdb_spill")
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET memory_limit='{dmem}'")
    con.execute(f"SET temp_directory='{spill}'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    record: dict[str, dict] = {}
    stamp = code_stamp()
    if resume and json_out and os.path.exists(json_out):
        # resume from an interrupted gate: keep completed rows, re-run
        # only what's missing or failed (incremental _flush means a
        # kill/OOM mid-gate loses at most the in-flight query)
        import json as _json

        with open(json_out) as f:
            prior = _json.load(f)
        record = resumable_rows(prior, sf_dir, stamp)
        if record:
            print(f"resuming: {len(record)} completed queries kept")
        else:
            print(f"resuming: nothing kept from {json_out} (sf_dir "
                  f"{prior.get('sf_dir')!r}, code {prior.get('code_stamp')}; "
                  f"this run: {sf_dir!r}, code {stamp})")

    def _flush(partial: bool) -> None:
        # incremental checkpoint: a driver OOM/GC death mid-gate (seen
        # at the synthesized large sf) must not discard completed rows
        if not json_out:
            return
        import json as _json

        with open(json_out, "w") as f:
            _json.dump({"sf_dir": sf_dir, "code_stamp": stamp,
                        "failures": failures,
                        "queries": record, "partial": partial},
                       f, indent=1)

    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in record:
            continue
        _flush(partial=True)
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            record[name] = {"status": "FAIL",
                            "err": f"spark: {str(e)[:300]}"}
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            continue
        spark_wall = round(time.time() - t0, 2)
        if name not in oracles:
            record[name] = {"status": "rows_only", "rows": len(sdf),
                            "spark_sec": spark_wall}
            print(f"rows  {name}: {len(sdf)} rows ({time.time()-t0:.1f}s) "
                  f"[rows-only]")
            continue
        t1 = time.time()
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            failures.append(name)
            record[name] = {"status": "FAIL",
                            "err": f"duckdb: {str(e)[:300]}"}
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            continue
        diff = compare(sdf, odf)
        rec = {"rows": len(sdf), "spark_sec": spark_wall,
               "oracle_sec": round(time.time() - t1, 2)}
        if diff:
            failures.append(name)
            record[name] = {"status": "FAIL", "err": diff, **rec}
            print(f"FAIL  {name}: {diff} ({time.time()-t0:.1f}s)")
        else:
            record[name] = {"status": "OK", **rec}
            print(f"OK    {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
    spark.stop()
    _flush(partial=False)
    print("\n%d failures" % len(failures), failures or "")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
