"""Seeded input generator for the perfbench workloads.

Every table is drawn from numpy generators keyed on (seed, table), so
the same seed always yields byte-identical inputs. The shapes follow
the engine's star-schema test data (TPC-H-like relational tables, an
`events` stream, a `documents` corpus and 64-d `embeddings`):

- relational tables at a scale factor `sf` (lineitem = 6,000,000 x sf
  rows), uniform foreign keys so join fan-outs match the engine's
  sf-tier data;
- `documents`: random sentences over a 30-word vocabulary, 5% of them
  a copy of another document plus a trailing " dup" token; `clones`
  > 1 replicates the corpus with a ` rep<i>` suffix token and a key
  offset, so each base document becomes a `clones`-member near-dup
  family (the shape of the engine's 10x clone-rich scale-up);
- `embeddings`: unit-norm gaussian vectors, replicated verbatim
  `clones` times (exact-duplicate families);
- `daily_etl` also gets the reference's five-table CSV drop
  (`{table}_YYYYMMDD.csv`), derived from the generated lineitem,
  supplier and part through the engine's sales/inventory/calendar/
  store/product mapping.

Usage: python3 perfbench/gen.py <workload> <seed> <outDir>
"""
import datetime as dt
import json
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SETTINGS = json.load(open(os.path.join(os.path.dirname(__file__), "settings.json")))
RUN_DATE = dt.date.fromisoformat(SETTINGS["run_date"])

EPOCH = np.datetime64("1970-01-01", "D")
VOCAB = np.array(("a the data row column table key value join hash agg sort "
                  "filter scan group order part line customer query merge "
                  "batch stream window spark vector fast slow big small").split())
TABLE_IDS = {t: i for i, t in enumerate(
    ["region", "nation", "customer", "supplier", "part", "orders",
     "lineitem", "events", "documents", "embeddings"])}


def rng(seed, table):
    return np.random.default_rng([seed, TABLE_IDS[table]])


def days(start, n_days, draws):
    """Timestamps (us) at midnight of `start` + draws days."""
    base = (np.datetime64(start, "D") - EPOCH).astype(np.int64)
    return pa.array((base + draws).astype(np.int64) * 86_400_000_000,
                    pa.timestamp("us"))


def cents(r, lo, hi, n):
    return r.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def pick(r, values, n, p=None):
    return pa.array(np.asarray(values)[r.choice(len(values), n, p=p)])


def relational(seed, sf):
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = rng(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": cents(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                 "HOUSEHOLD", "MACHINERY"], n_cust)})
    r = rng(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": cents(r, -999.99, 9999.99, n_supp)})
    r = rng(seed, "part")
    adj = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
    noun = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(
            np.array(adj)[r.integers(0, 8, n_part)], " "),
            np.array(noun)[r.integers(0, 8, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", r.integers(1, 26, n_part).astype(str))),
        "p_type": pick(r, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                           "STANDARD"], n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    r = rng(seed, "orders")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": cents(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": days("1995-01-01", 2404, r.integers(0, 2404, n_ord)),
        "o_orderpriority": pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                    "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    r = rng(seed, "lineitem")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": cents(r, 901.0, 104999.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(r, ["A", "N", "R"], n_li),
        "l_linestatus": pick(r, ["F", "O"], n_li),
        "l_shipdate": days("1995-01-02", 2498, r.integers(0, 2498, n_li))})
    r = rng(seed, "events")
    n_ev = int(1_000_000 * sf)
    n_users = max(1, n_ev * 3 // 200)
    start_us = (np.datetime64("2024-01-01", "us") - np.datetime64(EPOCH, "us")).astype(np.int64)
    ts = start_us + np.sort(r.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pick(r, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(np.minimum(r.exponential(50.0, n_ev), 490.0) + 0.01, 2),
        "props": pa.array(np.char.add(np.char.add('{"k": ', r.integers(0, 100, n_ev).astype(str)), "}"))})
    return t


def documents(seed, n, clones):
    r = rng(seed, "documents")
    lens = r.integers(10, 100, n)
    words = VOCAB[r.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # 5% near-duplicates: another document's text plus a " dup" token
    for i in np.flatnonzero(r.random(n) < 0.05):
        texts[i] = texts[int(r.integers(0, n))] + " dup"
    lang = np.asarray(["en", "de", "es", "fr", "zh"])[
        r.choice(5, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])]
    ids, out_text, out_lang, src = [], [], [], []
    for c in range(clones):
        ids.append(np.arange(n, dtype=np.int64) + c * 100_000_000)
        out_text += texts if c == 0 else [f"{x} rep{c}" for x in texts]
        out_lang.append(lang)
        src.append(np.arange(n) % 20)
    ids = np.concatenate(ids)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": out_text,
        "lang": pa.array(np.concatenate(out_lang)),
        "source": pa.array(np.char.add("src", np.concatenate(src).astype(str))),
        "n_chars": pa.array([len(x) for x in out_text], pa.int64())})


def embeddings(seed, n, clones):
    r = rng(seed, "embeddings")
    v = r.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    label = r.integers(0, 10, n)
    ids = np.concatenate([np.arange(n, dtype=np.int64) + c * 100_000_000
                          for c in range(clones)])
    flat = np.tile(v, (clones, 1)).reshape(-1)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, len(flat) + 1, 64), pa.int32()), pa.array(flat))
    return pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb,
                     "label": pa.array(np.tile(label, clones), pa.int32())})


# The engine's reference-schema mapping (sales = lineitem, inventory = a
# daily per-(part, supplier) stock snapshot, calendar = ship dates with
# arithmetic week numbers, store = supplier, product = part), written
# with every column of the reference DDL in declared order.
CSV_SQL = {
    "sales": """
        SELECT CAST(l_orderkey AS INTEGER) AS trans_id,
          CAST(l_partkey AS INTEGER) AS prod_key,
          CAST(l_suppkey AS INTEGER) AS store_key,
          CAST(l_shipdate AS DATE) AS trans_dt,
          CAST(l_linenumber * 100 AS INTEGER) AS trans_time,
          l_quantity AS sales_qty,
          round(l_extendedprice / l_quantity, 2) AS sales_price,
          l_extendedprice AS sales_amt, l_discount AS discount,
          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
            (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
            AS DECIMAL(18,6)) AS sales_cost,
          round(l_extendedprice * l_discount, 2) AS sales_mgrn,
          l_tax AS ship_cost
        FROM lineitem""",
    "inventory": """
        SELECT CAST(l_shipdate AS DATE) AS cal_dt,
          CAST(l_suppkey AS INTEGER) AS store_key,
          CAST(l_partkey AS INTEGER) AS prod_key,
          SUM(l_quantity) * 2 AS inventory_on_hand_qty,
          SUM(l_quantity) AS inventory_on_order_qty,
          CASE WHEN SUM(l_quantity) < 10 THEN 1 ELSE 0 END AS out_of_stock_flg,
          0.0 AS waste_qty, false AS promotion_flg,
          CAST(l_shipdate AS DATE) + 7 AS next_delivery_dt
        FROM lineitem GROUP BY l_shipdate, l_suppkey, l_partkey""",
    "calendar": """
        SELECT DISTINCT CAST(l_shipdate AS DATE) AS cal_dt,
          'CAL' AS cal_type_desc,
          CAST(dayofweek(l_shipdate) AS VARCHAR) AS day_of_wk_num,
          dayname(l_shipdate) AS day_of_wk_desc,
          year(l_shipdate) AS yr_num, week(l_shipdate) AS wk_num,
          CAST(floor(datediff('day', DATE '1995-01-01',
            CAST(l_shipdate AS DATE)) / 7.0) AS INTEGER) AS yr_wk_num,
          month(l_shipdate) AS mnth_num,
          year(l_shipdate) * 100 + month(l_shipdate) AS yr_mnth_num,
          quarter(l_shipdate) AS qtr_num,
          year(l_shipdate) * 10 + quarter(l_shipdate) AS yr_qtr_num
        FROM lineitem""",
    "store": """
        SELECT CAST(s_suppkey AS INTEGER) AS store_key,
          CAST(s_suppkey AS VARCHAR) AS store_num, s_name AS store_desc,
          'addr' AS addr, 'city' AS city, 'region' AS region,
          'CA' AS cntry_cd, 'Canada' AS cntry_nm, 'A1A1A1' AS postal_zip_cd,
          'Ontario' AS prov_state_desc, 'ON' AS prov_state_cd,
          'S' AS store_type_cd, 'Store' AS store_type_desc,
          false AS frnchs_flg, 1000.000 AS store_size,
          s_nationkey AS market_key, 'market' AS market_name,
          s_nationkey AS submarket_key, 'submarket' AS submarket_name,
          43.650000 AS latitude, -79.380000 AS longitude
        FROM supplier""",
    "product": """
        SELECT CAST(p_partkey AS INTEGER) AS prod_key, p_name AS prod_name,
          1.0 AS vol, 1.0 AS wgt, p_brand AS brand_name, 1 AS status_code,
          'active' AS status_code_name, p_size AS category_key,
          p_type AS category_name, p_size AS subcategory_key,
          p_type AS subcategory_name
        FROM part""",
}


def csv_drop(sf_dir, in_dir):
    os.makedirs(in_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("lineitem", "supplier", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    ymd = RUN_DATE.strftime("%Y%m%d")
    for name, sql in CSV_SQL.items():
        con.execute(f"COPY ({sql} ORDER BY ALL) TO '{in_dir}/{name}_{ymd}.csv' "
                    "(HEADER, DELIMITER ',', DATEFORMAT '%Y-%m-%d')")


def generate(workload, seed, out):
    # `sf` scales the relational tables and events; `docs`/`vecs` are the
    # base corpus sizes before cloning
    spec = SETTINGS["workloads"][workload]["gen"]
    sf_dir = f"{out}/sf"
    os.makedirs(sf_dir, exist_ok=True)
    tables = relational(seed, spec["sf"])
    tables["documents"] = documents(seed, spec["docs"], spec["clones"])
    tables["embeddings"] = embeddings(seed, spec["vecs"], spec["clones"])
    for name, table in tables.items():
        pq.write_table(table, f"{sf_dir}/{name}.parquet")
    if workload == "daily_etl":
        csv_drop(sf_dir, f"{out}/in")


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
