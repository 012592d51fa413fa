"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` (numpy PCG64 plus fixed
write order), so the same seed writes byte-identical files. Two
families:

- order drops for the ingest pipeline and the stream: CSV plus JSON in
  the three shapes the batch reader accepts (list, ``{"orders": [...]}``
  wrapper, single object), with cross-source duplicate ids, API-id
  duplicates, corrupt CSV lines, dirty name/email casing and
  non-positive prices. Each writer returns a manifest of what the
  pipeline must report;
- a TPC-H-shaped star schema (plus ``events``, ``documents`` and
  ``embeddings``) with the column set and value ranges the registered
  queries are written against, for the query mix.
"""

from __future__ import annotations

import json
import os
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDER_COLUMNS = (
    "order_id",
    "customer_name",
    "customer_email",
    "product",
    "quantity",
    "price",
    "discount",
    "total_amount",
    "order_date",
)
_FIRST = ("john", "jane", "maria", "wei", "ahmed", "olga", "li", "sam", "ana", "raj")
_LAST = ("doe", "smith", "garcia", "chen", "khan", "ivanova", "wong", "lee", "silva", "patel")
_PRODUCTS = (
    "iPhone 15",
    "MacBook Pro",
    "AirPods Pro",
    "Apple Watch",
    "iPad Air",
    "Nintendo Switch",
    "Kindle Paperwhite",
    "Galaxy S24",
    "Dell XPS 13",
    "Sony WH-1000XM5",
)
# ~7 years of order dates -> ~84 ``order_month`` warehouse partitions.
_EPOCH = date(2018, 1, 1)
_DATE_SPAN_DAYS = 7 * 365
# A drop: CSV files, share of ids written to both a CSV and a JSON file,
# share of malformed CSV lines (drops and stream files alike).
DROP_CSV_FILES = 2
DUP_FRAC = 0.02
CORRUPT_FRAC = 0.005


def _casing(rng: np.random.Generator, s: str) -> str:
    k = rng.integers(4)
    s = (s, s.upper(), s.title(), s.lower())[k]
    return (" " + s) if rng.random() < 0.1 else s


def _order(rng: np.random.Generator, order_id: str) -> dict:
    """One order as the drop carries it. About 3% carry a non-positive
    price, which the cleaning stage must drop."""
    first, last = _FIRST[rng.integers(len(_FIRST))], _LAST[rng.integers(len(_LAST))]
    quantity = int(rng.integers(1, 6))
    price = round(float(rng.uniform(5, 2000)), 2)
    if rng.random() < 0.03:
        price = -price if rng.random() < 0.5 else 0.0
    discount = (0.0, 0.0, 5.0, 10.0)[rng.integers(4)]
    return {
        "order_id": order_id,
        "customer_name": _casing(rng, f"{first} {last}"),
        "customer_email": _casing(rng, f"{first}.{last}@example.com"),
        "product": _PRODUCTS[rng.integers(len(_PRODUCTS))],
        "quantity": quantity,
        "price": price,
        "discount": discount,
        "total_amount": round(price * quantity - discount, 2),
        "order_date": (_EPOCH + timedelta(days=int(rng.integers(_DATE_SPAN_DAYS)))).isoformat(),
    }


def _valid(order: dict) -> bool:
    """The cleaning stage's row filter (price > 0, quantity > 0)."""
    return order["price"] > 0 and order["quantity"] > 0


def _csv_line(order: dict) -> str:
    return ",".join(str(order[c]) for c in ORDER_COLUMNS)


def _corrupt_line(rng: np.random.Generator, n: int) -> str:
    """A line with the wrong token count: PERMISSIVE mode quarantines it."""
    if rng.random() < 0.5:
        return f"BAD-{n:06d},truncated"
    return f"BAD-{n:06d}," + ",".join(["x"] * (len(ORDER_COLUMNS) + 1))


def _write(path: str, text: str) -> int:
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write(text)
    return len(text.encode("utf-8"))


def _write_csv(path: str, lines: list[str]) -> int:
    return _write(path, ",".join(ORDER_COLUMNS) + "\n" + "".join(l + "\n" for l in lines))


def write_drop(out_dir: str, seed: int, n_rows: int, api_limit: int = 100) -> dict:
    """A batch-pipeline file drop of about ``n_rows`` orders.

    Rows go to ``DROP_CSV_FILES`` CSV files and, for a quarter of them,
    to JSON files in all three shapes. ``DUP_FRAC`` of the ids are
    written to both a CSV and a JSON file with the same payload (the
    pipeline keeps the CSV copy), a few CSV rows reuse the offline API's
    ids (the API copy wins), and ``CORRUPT_FRAC`` of the CSV lines are
    malformed.

    Returns the manifest: ``expected_records`` is what
    ``run_pipeline(api_limit)`` must report as ``records_processed``.
    """
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    orders = [_order(rng, f"ORD-{seed % 1000:03d}{i:07d}") for i in range(n_rows)]
    n_json = max(4, n_rows // 4)
    json_rows, csv_rows = orders[:n_json], orders[n_json:]
    dups = [json_rows[int(i)] for i in rng.choice(n_json, max(1, int(n_rows * DUP_FRAC)), replace=False)]
    api_dups = [
        dict(_order(rng, ""), order_id=f"API-{int(i):04d}")
        for i in rng.choice(np.arange(1, api_limit + 1), 3, replace=False)
    ]
    csv_lines = [_csv_line(o) for o in csv_rows + dups + api_dups]
    n_corrupt = max(1, int(len(csv_lines) * CORRUPT_FRAC))
    for k in range(n_corrupt):
        csv_lines.insert(int(rng.integers(len(csv_lines) + 1)), _corrupt_line(rng, k))

    n_bytes = 0
    per_file = -(-len(csv_lines) // DROP_CSV_FILES)
    for f in range(DROP_CSV_FILES):
        n_bytes += _write_csv(
            os.path.join(out_dir, f"orders_{f:03d}.csv"), csv_lines[f * per_file : (f + 1) * per_file]
        )
    # JSON: half as a list, a third in the wrapper shape, the rest one
    # single-object file each.
    n_list, n_wrap = n_json // 2, n_json // 3
    n_bytes += _write(os.path.join(out_dir, "orders_list.json"), json.dumps(json_rows[:n_list]))
    n_bytes += _write(
        os.path.join(out_dir, "orders_wrapped.json"),
        json.dumps({"orders": json_rows[n_list : n_list + n_wrap]}),
    )
    singles = json_rows[n_list + n_wrap :]
    for k, o in enumerate(singles):
        n_bytes += _write(os.path.join(out_dir, f"order_single_{k:03d}.json"), json.dumps(o))

    api_ids = {f"API-{i:04d}" for i in range(1, api_limit + 1)}
    valid_file_ids = {o["order_id"] for o in orders if _valid(o)} - api_ids
    return {
        "expected_records": len(api_ids) + len(valid_file_ids),
        "unique_valid_ids": len(valid_file_ids),
        "api_records": api_limit,
        "corrupt_lines": n_corrupt,
        "input_records": len(csv_lines) + n_json,
        "input_bytes": n_bytes,
        "files": DROP_CSV_FILES + 2 + len(singles),
    }


def write_stream_files(out_dir: str, seed: int, n_files: int, rows_per_file: int) -> dict:
    """CSV files for the streaming ingest, one micro-batch per 100 files.

    Ids are unique across files; the ~2% duplicate ids repeat a row in
    the same file, so each micro-batch's own dedup removes them however
    Spark groups files into batches. ``expected_rows`` is the row count
    the drained warehouse must hold.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    expected = corrupt = n_bytes = records = 0
    for f in range(n_files):
        orders = [_order(rng, f"STR-{f:05d}-{i:05d}") for i in range(rows_per_file)]
        lines = [_csv_line(o) for o in orders]
        for _ in range(int(rng.binomial(rows_per_file, DUP_FRAC))):
            lines.insert(int(rng.integers(len(lines) + 1)), _csv_line(orders[int(rng.integers(len(orders)))]))
        for _ in range(int(rng.binomial(rows_per_file, CORRUPT_FRAC))):
            lines.insert(int(rng.integers(len(lines) + 1)), _corrupt_line(rng, corrupt))
            corrupt += 1
        expected += sum(_valid(o) for o in orders)
        records += len(lines)
        n_bytes += _write_csv(os.path.join(out_dir, f"part_{f:05d}.csv"), lines)
    return {
        "expected_rows": expected,
        "corrupt_lines": corrupt,
        "input_records": records,
        "input_bytes": n_bytes,
        "files": n_files,
    }


# ---------------------------------------------------------------- star schema
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("red", "blue", "hot", "new", "large", "small")
_PART_NOUN = ("bolt", "ring", "anvil", "rod", "plate", "widget", "gear", "nut", "pipe", "valve", "clip")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge order "
    "part query row scan slow small sort spark stream table the value vector window"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(len(values), size=n)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> pa.Array:
    d = np.datetime64(start, "D") + rng.integers(span, size=n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The star schema at scale factor ``sf`` (sf=0.01: 15k orders, 60k
    lineitems, 10k events; always 500 documents and 500 embeddings)."""
    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = n_vec = 500

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(_REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(25, size=n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(25, size=n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, size=n_part).astype(np.int32)),
            "p_retailprice": pa.array(900 + (np.arange(n_part) % 1000) / 10),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(n_cust, size=n_ord)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(n_ord, size=n_line)),
            "l_partkey": pa.array(rng.integers(n_part, size=n_line)),
            "l_suppkey": pa.array(rng.integers(n_supp, size=n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, size=n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, size=n_line) / 100),
            "l_tax": pa.array(rng.integers(0, 9, size=n_line) / 100),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
        }
    )
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(30 * 86_400_000_000, size=n_ev)
    ).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            # TIMESTAMP(NANOS), as the engine's reference data stores it
            "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(max(50, int(15_000 * sf)), size=n_ev)),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(100, size=n_ev)]),
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            words = np.asarray(_WORDS, dtype=object)[rng.integers(len(_WORDS), size=int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS + ("en", "en"), n_docs),
            "source": _pick(rng, [f"src{i}" for i in range(20)], n_docs),
            "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
        }
    )
    labels = rng.integers(10, size=n_vec)
    centroids = rng.normal(size=(10, 64))
    vecs = rng.normal(size=(n_vec, 64)) + 0.07 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    return t


def write_star(out_dir: str, seed: int, sf: float) -> dict:
    """Write :func:`star_tables` as ``{out_dir}/{table}.parquet``; returns
    the manifest (row count per table)."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in star_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        rows[name] = table.num_rows
    return {"rows": rows, "input_records": sum(rows.values())}
