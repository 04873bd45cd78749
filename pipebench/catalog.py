"""The catalog slice: seeded test tables and the 16 `SparkEntry.queries`
keys that exercise the layers the ingestion pipeline does not touch.

The tables follow TESTDATA.md's shapes (column names, types and value
ranges of the synthetic star schema and `events`) at the sf0.001 sizes, and
are generated from the seed, so a run reads nothing outside its checkout.
Only the five tables the keys read are written. Each key's expected row
count comes from its `SparkEntry.oracleSql` run in DuckDB on the same
files, never from Spark.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# key -> per-layer metric name, named by the module the key exercises
KEYS = {
    "agg_pricing_summary": "queries.agg_pricing_summary_s",
    "pipeline_backfill_then_watch": "queries.pipeline_backfill_then_watch_s",
    "graph_components": "operators.graph_components_s",
    "graph_kcore_full": "operators.graph_kcore_full_s",
    "graph_pagerank": "operators.graph_pagerank_s",
    "link_er_clusters": "operators.link_er_clusters_s",
    "dedup_lsh_clusters": "operators.dedup_lsh_clusters_s",
    "text_bm25": "operators.text_bm25_s",
    "dedup_simhash_pairs": "expressions.dedup_simhash_pairs_s",
    "simsearch_ivf": "expressions.simsearch_ivf_s",
    "stream_link_pairs": "streaming.stream_link_pairs_s",
    "stream_window_append": "streaming.stream_window_append_s",
    "stream_dropdup_watermark": "streaming.stream_dropdup_watermark_s",
    "stream_jdbc_sink": "sources.stream_jdbc_sink_s",
    "sink_upsert": "etl.sink_upsert_s",
    "ddl_compact": "etl.ddl_compact_s",
}
TABLES = ("lineitem", "customer", "documents", "embeddings", "events")

# sf0.001 sizes of TESTDATA.md's tables
N_ORDERS, N_PARTS, N_SUPPS, N_LINEITEM = 1_500, 200, 10, 6_000
N_CUSTOMERS, N_DOCUMENTS, N_EMBEDDINGS, N_EVENTS, N_USERS = 150, 500, 500, 1_000, 15
EMBEDDING_DIM = 64
WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark "
         "line sort window order data column join small customer query group "
         "stream filter big vector").split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def lineitem(rng):
    n = N_LINEITEM
    qty = rng.integers(1, 51, n).astype(float)
    ship_day = rng.integers(0, 2498, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, n),
        "l_partkey": rng.integers(0, N_PARTS, n),
        "l_suppkey": rng.integers(0, N_SUPPS, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": pa.array(np.datetime64("1995-01-02", "us") + ship_day, pa.timestamp("us")),
    })


def customer(rng):
    n = N_CUSTOMERS
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })


def documents(rng):
    n = N_DOCUMENTS
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))) for _ in range(n)]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng):
    v = rng.standard_normal((N_EMBEDDINGS, EMBEDDING_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_EMBEDDINGS).astype(np.int32),
    })


def events(rng):
    n = N_EVENTS
    start = np.datetime64(dt.datetime(2024, 1, 1), "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, N_USERS, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(20.0, n), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def write_tables(out, seed):
    """Writes the five tables the keys read as `<out>/<name>.parquet`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        pq.write_table(globals()[name](rng), os.path.join(out, f"{name}.parquet"))


def oracle_rows(tables_dir, oracle_sql):
    """Row count of each key's oracle SQL, run in DuckDB on the tables."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    return {k: con.execute(f"SELECT count(*) FROM ({sql.strip().rstrip(';')})").fetchone()[0]
            for k, sql in oracle_sql.items()}
