"""Seeded input generators for the benchmark.

Two kinds of input:

* ``write_tables`` writes the ten engine tables (region, nation,
  customer, supplier, part, orders, lineitem, events, documents,
  embeddings) in the schemas and physical types of the engine's testdata
  (FIXTURES.md F4): single-row-group parquet, naive TIMESTAMP(MICROS),
  64-dim unit float embeddings, documents over a 30-word vocabulary of
  which 5 % are a copy of another document plus " dup". The query
  workloads always read the seed-42 tables, so their committed expected
  results stay valid.
* ``write_ingest`` writes a pp-complete CSV in the FIXTURES F2 shape
  (16 all-quoted string columns, quoted '' fields, dates out of order,
  one known max-date row) and a comma-dialect copy with a known number of
  malformed lines per quarantine reason. It returns the values the
  ingest checks compare against.
"""
import datetime
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
LANGS = ["en"] * 8 + ["zh", "de", "es", "fr"] * 3
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PART_TYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
PART_ADJ = "cold small large blue old new hot red".split()
PART_NOUN = "widget bolt rod anvil ring gizmo plate gear".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "purchase", "view"]

# Row counts of the query workloads' tables: the sf0.001 testdata shape,
# where per-job overhead rather than input volume sets query latency.
SIZES = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
         "lineitem": 6000, "events": 1000, "documents": 500,
         "embeddings": 500, "users": 15}


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _day(rng, start, span_days):
    return start + datetime.timedelta(days=rng.randrange(span_days))


def write_tables(out_dir, seed=42):
    """Write the ten tables under ``out_dir`` as ``<name>.parquet``."""
    rng = random.Random(seed)
    n = SIZES
    os.makedirs(out_dir, exist_ok=True)
    i64, i32, f64, s = pa.int64(), pa.int32(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(names, s)})
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(range(n["customer"]), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n["customer"])], s),
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n["customer"])], i32),
        "c_acctbal": pa.array([rng.randrange(-99999, 999999) / 100
                               for _ in range(n["customer"])], f64),
        "c_mktsegment": pa.array([rng.choice(SEGMENTS) for _ in range(n["customer"])], s)})
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(range(n["supplier"]), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n["supplier"])], s),
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n["supplier"])], i32),
        "s_acctbal": pa.array([rng.randrange(-99999, 999999) / 100
                               for _ in range(n["supplier"])], f64)})
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(range(n["part"]), i64),
        "p_name": pa.array([f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                            for _ in range(n["part"])], s),
        "p_brand": pa.array([f"Brand#{rng.randrange(1, 26)}" for _ in range(n["part"])], s),
        "p_type": pa.array([rng.choice(PART_TYPES) for _ in range(n["part"])], s),
        "p_size": pa.array([rng.randrange(1, 51) for _ in range(n["part"])], i32),
        "p_retailprice": pa.array([900 + k / 10 for k in range(n["part"])], f64)})

    d0 = datetime.datetime(1995, 1, 1)
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(range(n["orders"]), i64),
        "o_custkey": pa.array([rng.randrange(n["customer"]) for _ in range(n["orders"])], i64),
        "o_orderstatus": pa.array([rng.choice("OFP") for _ in range(n["orders"])], s),
        "o_totalprice": pa.array([rng.randrange(100000, 50000000) / 100
                                  for _ in range(n["orders"])], f64),
        "o_orderdate": pa.array([_day(rng, d0, 2400) for _ in range(n["orders"])], ts),
        "o_orderpriority": pa.array([rng.choice(PRIORITIES) for _ in range(n["orders"])], s)})
    m = n["lineitem"]
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array([rng.randrange(n["orders"]) for _ in range(m)], i64),
        "l_partkey": pa.array([rng.randrange(n["part"]) for _ in range(m)], i64),
        "l_suppkey": pa.array([rng.randrange(n["supplier"]) for _ in range(m)], i64),
        "l_linenumber": pa.array([rng.randrange(1, 8) for _ in range(m)], i32),
        "l_quantity": pa.array([float(rng.randrange(1, 51)) for _ in range(m)], f64),
        "l_extendedprice": pa.array([rng.randrange(90000, 10500000) / 100
                                     for _ in range(m)], f64),
        "l_discount": pa.array([rng.randrange(11) / 100 for _ in range(m)], f64),
        "l_tax": pa.array([rng.randrange(9) / 100 for _ in range(m)], f64),
        "l_returnflag": pa.array([rng.choice("ANR") for _ in range(m)], s),
        "l_linestatus": pa.array([rng.choice("OF") for _ in range(m)], s),
        "l_shipdate": pa.array([_day(rng, d0, 2500) for _ in range(m)], ts)})

    e = n["events"]
    t0 = datetime.datetime(2024, 1, 1)
    offsets = sorted(rng.randrange(30 * 86400 * 10**6) for _ in range(e))
    _write(f"{out_dir}/events.parquet", {
        "event_id": pa.array(range(e), i64),
        "ts": pa.array([t0 + datetime.timedelta(microseconds=o) for o in offsets], ts),
        "user_id": pa.array([rng.randrange(n["users"]) for _ in range(e)], i64),
        "event_type": pa.array([rng.choice(EVENT_TYPES) for _ in range(e)], s),
        "value": pa.array([round(rng.expovariate(1 / 40), 2) + 0.01 for _ in range(e)], f64),
        "props": pa.array([f'{{"k": {rng.randrange(100)}}}' for _ in range(e)], s)})

    texts = []
    for k in range(n["documents"]):
        if k % 20 == 0 and k + 50 < n["documents"]:
            texts.append(None)  # filled below as a copy of a later document
        else:
            texts.append(" ".join(rng.choice(WORDS) for _ in range(rng.randrange(8, 90))))
    for k, t in enumerate(texts):
        if t is None:
            texts[k] = texts[k + 50] + " dup"
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": pa.array(range(n["documents"]), i64),
        "text": pa.array(texts, s),
        "lang": pa.array([rng.choice(LANGS) for _ in texts], s),
        "source": pa.array([f"src{k % 20}" for k in range(n["documents"])], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    vecs = []
    for _ in range(n["embeddings"]):
        v = [rng.gauss(0.0, 1.0) for _ in range(64)]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": pa.array(range(n["embeddings"]), i64),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in vecs], i32)})


TOWNS = "LONDON LEEDS BRISTOL YORK BATH DERBY LINCOLN DURHAM EXETER".split()
STREETS = "HIGH STREET|CHURCH ROAD|MILL LANE|STATION ROAD|PARK AVENUE|THE GREEN".split("|")


def write_ingest(out_dir, seed, rows, bad_columns, bad_date):
    """Write ``pp.csv`` (F2 shape, all quoted) and ``pp_comma.csv``
    (comma dialect with ``bad_columns`` + ``bad_date`` malformed lines
    inserted at seeded positions). Returns the expected check values."""
    rng = random.Random(seed)
    d0 = datetime.datetime(1995, 1, 1)
    max_row = rng.randrange(rows // 4, 3 * rows // 4)  # never first or last
    # the one max-date row lies past every other row's 11 000-day range
    max_dt = d0 + datetime.timedelta(days=11000 + rng.randrange(365), minutes=rng.randrange(1440))
    dates = [(d0 + datetime.timedelta(days=d)).strftime("%Y-%m-%d ") for d in range(11000)]
    records = []
    for k in range(rows):
        # one draw feeds every field: bit slices of a 64-bit word
        b = rng.getrandbits(64)
        if k == max_row:
            dt = max_dt.strftime("%Y-%m-%d %H:%M")
        else:
            mins = (b >> 14) % 1440
            dt = f"{dates[b % 11000]}{mins // 60:02d}:{mins % 60:02d}"
        g = rng.getrandbits(128)
        records.append([
            "{%08X-%04X-%04X-%04X-%012X}" % (g >> 96, (g >> 80) & 0xFFFF, (g >> 64) & 0xFFFF,
                                              (g >> 48) & 0xFFFF, g & 0xFFFFFFFFFFFF),
            str(20000 + (b >> 25) % 1980000),
            dt,
            "" if (b >> 46) % 50 == 0 else
            f"{'ABCDLMNS'[(b >> 52) % 8]}{'BELNS'[(b >> 55) % 5]}{(b >> 58) % 29 + 1} "
            f"{(b >> 4) % 10}{'ABDEFG'[(b >> 8) % 6]}{'HJLNPQ'[(b >> 11) % 6]}",
            "DSTFO"[(b >> 20) % 5],
            "YN"[(b >> 23) & 1],
            "FL"[(b >> 24) & 1],
            str((b >> 30) % 199 + 1),
            f"FLAT {(b >> 38) % 39 + 1}" if (b >> 44) % 5 == 0 else "",
            STREETS[(b >> 47) % 6],
            "" if (b >> 50) % 5 < 3 else TOWNS[(b >> 53) % 9],
            TOWNS[(b >> 56) % 9],
            TOWNS[(b >> 59) % 9],
            TOWNS[(g >> 20) % 9],
            "AB"[(g >> 30) & 1],
            "ACD"[(g >> 31) % 3],
        ])
    os.makedirs(out_dir, exist_ok=True)
    with open(f"{out_dir}/pp.csv", "w", encoding="utf-8") as f:
        f.writelines(",".join(f'"{v}"' for v in r) + "\n" for r in records)

    lines = [",".join(r) for r in records]
    bad = ["bad_columns"] * bad_columns + ["bad_date"] * bad_date
    for reason in bad:
        r = list(rng.choice(records))
        if reason == "bad_columns":
            r = r[:15] if rng.random() < 0.5 else r + ["EXTRA"]
        else:
            r[2] = rng.choice(["2021-13-01 10:00", "2021-02-30 10:00",
                               "01/02/2021 10:00", "2021-01-01"])
        lines.insert(rng.randrange(len(lines) + 1), ",".join(r))
    with open(f"{out_dir}/pp_comma.csv", "w", encoding="utf-8") as f:
        f.writelines(line + "\n" for line in lines)

    return {
        "rows": rows,
        "auto_date": max_dt.strftime("%Y-%m-%d"),
        "quarantine": {"bad_columns": bad_columns, "bad_date": bad_date},
        "clean_rows": rows,
    }
