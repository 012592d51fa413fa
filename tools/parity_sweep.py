"""Driver-faithful oracle parity sweep.

Runs every registered query against its DuckDB oracle at a chosen scale
factor and compares (a) row count, (b) sorted column names, (c) values,
and (d) **per-column dtype kind** — the piece the in-repo pytest harness
deliberately relaxes. The driver's CORRECTNESS hash is computed over the
fetched values *with their types*, so a DuckDB HUGEINT (fetched as
float64) vs a Spark bigint hashes differently even when every value is
numerically equal (that was round 1's only red row, q12). This sweep
reproduces that sensitivity locally so typing regressions surface before
the driver runs.

Usage:
    python tools/parity_sweep.py [--sf /root/testdata/sf0.01] [--only name[,name] ...]

--only takes names separated by spaces or commas; an unknown name is an
error (exit 2), as is an empty --only, so a typo cannot turn the sweep into "0/0 green".
"""

from __future__ import annotations

import argparse
import math
import sys
import time
from datetime import date, datetime
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from scalable_data_ingestion_spark import registry  # noqa: E402
from scalable_data_ingestion_spark.catalog import TABLES  # noqa: E402
from scalable_data_ingestion_spark.session import default_parallelism, get_spark  # noqa: E402

FLOAT_TOL = 1e-9
# --strict: bit-exact float comparison (no rounding, no tolerance). The
# driver's CORRECTNESS hash is computed over exact fetched values, so a
# query that passes --strict at the driver's SF is guaranteed to
# hash-match; the default 1e-9 tolerance is for fast iteration where
# last-ulp accumulation-order noise is acceptable. Round-7 fragility
# audit (VERDICT r6 item #5) runs the full registry through --strict.
STRICT = False


def _kind(series) -> str:
    """Collapse a pandas dtype to the kind the driver's hash is sensitive to."""
    k = series.dtype.kind
    # int8/16/32/64 all fetch as python ints; unsigned ditto.
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "datetime"
    return "object"


def _obj_kinds(series) -> set[str]:
    kinds = set()
    for v in series:
        if v is None:
            continue
        if isinstance(v, float) and math.isnan(v):
            continue
        if isinstance(v, bool):
            kinds.add("bool")
        elif isinstance(v, int):
            kinds.add("int")
        elif isinstance(v, float):
            kinds.add("float")
        elif isinstance(v, (datetime, date)):
            kinds.add("datetime")
        elif isinstance(v, str):
            kinds.add("str")
        else:
            kinds.add(type(v).__name__)
    return kinds or {"null"}


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return v if STRICT else round(v, 9)
    if isinstance(v, datetime):
        v = v.replace(tzinfo=None)
        if v.hour == v.minute == v.second == v.microsecond == 0:
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if hasattr(v, "item"):
        return _norm_cell(v.item())
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_norm_cell(x) for x in v)
    return v


def _rows(pdf):
    cols = sorted(pdf.columns)
    out = []
    for t in pdf[cols].itertuples(index=False, name=None):
        out.append(tuple(_norm_cell(v) for v in t))
    out.sort(key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))
    return cols, out


def compare(name: str, spark_pdf, oracle_pdf) -> list[str]:
    problems: list[str] = []
    s_cols, s_rows = _rows(spark_pdf)
    o_cols, o_rows = _rows(oracle_pdf)
    if s_cols != o_cols:
        return [f"columns {s_cols} vs {o_cols}"]
    if len(s_rows) != len(o_rows):
        return [f"rowcount {len(s_rows)} vs {len(o_rows)}"]
    if not s_rows:
        return ["empty result"]

    # dtype-kind comparison (the driver-hash-sensitive part)
    for c in s_cols:
        sk, ok = _kind(spark_pdf[c]), _kind(oracle_pdf[c])
        if sk == "object" or ok == "object":
            sk2 = _obj_kinds(spark_pdf[c]) if sk == "object" else {sk}
            ok2 = _obj_kinds(oracle_pdf[c]) if ok == "object" else {ok}
            if sk2 != ok2:
                problems.append(f"dtype-kind[{c}]: spark {sorted(sk2)} vs oracle {sorted(ok2)}")
        elif sk != ok:
            problems.append(
                f"dtype-kind[{c}]: spark {spark_pdf[c].dtype} vs oracle {oracle_pdf[c].dtype}"
            )

    n_bad = 0
    for i, (sr, orow) in enumerate(zip(s_rows, o_rows)):
        for c, a, b in zip(s_cols, sr, orow):
            if isinstance(a, float) and isinstance(b, float):
                if STRICT:
                    if a != b:
                        problems.append(f"value[{i}][{c}]: {a!r} vs {b!r}")
                        n_bad += 1
                elif not math.isclose(a, b, rel_tol=FLOAT_TOL, abs_tol=1e-6):
                    problems.append(f"value[{i}][{c}]: {a} vs {b}")
                    n_bad += 1
            elif a != b:
                problems.append(f"value[{i}][{c}]: {a!r} vs {b!r}")
                n_bad += 1
        if n_bad > 3:
            break
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", nargs="*", default=None, help="names, space- or comma-separated")
    ap.add_argument("--first", type=int, default=None, help="limit to first N registered")
    ap.add_argument(
        "--strict",
        action="store_true",
        help="bit-exact float comparison (driver-hash fidelity, no tolerance)",
    )
    ap.add_argument(
        "--plain-session",
        action="store_true",
        help="plain SparkSession like the driver's (default shuffle "
        "partitions etc.) — float accumulation order can differ from the "
        "tuned session, so strict audits should use this",
    )
    args = ap.parse_args()
    if args.strict:
        global STRICT
        STRICT = True

    qs = registry.queries()
    oracles = registry.oracles()
    names = list(qs)
    if args.first:
        names = names[: args.first]
    if args.only is not None:
        only = {n for arg in args.only for n in arg.split(",") if n}
        unknown = sorted(only - set(qs))
        if unknown or not only:
            print("unknown query name(s):", " ".join(unknown) or "(none given)", file=sys.stderr)
            return 2
        names = [n for n in names if n in only]

    if args.plain_session:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(f"local[{default_parallelism()}]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    else:
        spark = get_spark("parity-sweep")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    red = []
    t_all = time.time()
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            spark_pdf = qs[name](spark, args.sf).toPandas()
        except Exception as exc:  # noqa: BLE001
            red.append(name)
            print(f"[{i+1}/{len(names)}] {name}: SPARK ERROR {exc}", flush=True)
            continue
        if name not in oracles:
            print(f"[{i+1}/{len(names)}] {name}: rows={len(spark_pdf)} (no oracle)", flush=True)
            continue
        try:
            oracle_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            red.append(name)
            print(f"[{i+1}/{len(names)}] {name}: ORACLE ERROR {exc}", flush=True)
            continue
        problems = compare(name, spark_pdf, oracle_pdf)
        dt = time.time() - t0
        if problems:
            red.append(name)
            print(f"[{i+1}/{len(names)}] {name}: RED ({dt:.1f}s)", flush=True)
            for p in problems[:6]:
                print(f"    {p}", flush=True)
        else:
            print(
                f"[{i+1}/{len(names)}] {name}: ok rows={len(spark_pdf)} ({dt:.1f}s)",
                flush=True,
            )
    print(f"\n{len(names) - len(red)}/{len(names)} green in {time.time()-t_all:.0f}s")
    if red:
        print("RED:", " ".join(red))
    return 1 if red else 0


if __name__ == "__main__":
    sys.exit(main())
