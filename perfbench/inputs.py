"""Seeded benchmark inputs.

Two input families, both a pure function of the seed and the size:

* the supplier domain as the paper's pipeline receives it: three CSV
  files (``suppliers``, ``purchase_orders``, ``deliveries``) produced by
  the package's own distributed generator
  (``generator.generate_lineage_at_scale``), and
* a TPC-H-like warehouse (``region`` ... ``lineitem`` plus ``events``,
  ``documents`` and ``embeddings``) as one Parquet file per table, the
  layout ``api.create_views`` and the registered queries read. It is
  generated here with NumPy, with the value domains of the fixture data
  the registry's oracles were written against.
"""

from __future__ import annotations

import glob
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# spark.range splits its id space by the default parallelism and rand()
# draws per partition, so the generated rows depend on it. Pin it so the
# same seed gives the same CSVs on any host.
GENERATOR_PARALLELISM = 4

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def write_supplier_domain_csvs(
    spark, out_dir: str, n_pos: int, n_suppliers: int, seed: int
) -> dict[str, str]:
    """Write the pipeline's three CSV inputs, one directory of part files
    each; returns name -> directory.

    ``spark`` must have ``spark.default.parallelism`` set to
    ``GENERATOR_PARALLELISM``, as ``jvm.start_session`` sets it.
    """
    from pyspark.sql import functions as F

    from supplier_performance_data_pipeline_spark.generator import (
        CATEGORIES,
        COUNTRIES,
        generate_lineage_at_scale,
    )
    from supplier_performance_data_pipeline_spark.sources.writers import write_csv

    fact = generate_lineage_at_scale(spark, n_pos, n_suppliers, seed=seed)
    idx = F.substring("supplier_id", 2, 5).cast("int")
    tables = {
        "suppliers": fact.select("supplier_id", "financial_risk_score")
        .distinct()
        .select(
            "supplier_id",
            F.concat(F.lit("Supplier "), idx.cast("string")).alias("supplier_name"),
            F.element_at(F.array(*map(F.lit, CATEGORIES)), idx % len(CATEGORIES) + 1)
            .alias("category"),
            F.element_at(F.array(*map(F.lit, COUNTRIES)), idx * 7 % len(COUNTRIES) + 1)
            .alias("country"),
            "financial_risk_score",
        )
        .orderBy("supplier_id"),
        "purchase_orders": fact.select(
            "po_id", "supplier_id", "order_date", "promised_date", "quantity_ordered"
        ),
        "deliveries": fact.select(
            "po_id", "delivery_date", "quantity_delivered", "quality_issues"
        ),
    }
    paths = {}
    for name, df in tables.items():
        paths[name] = os.path.join(out_dir, name)
        write_csv(df, paths[name], coalesce=1 if name == "suppliers" else None)
    return paths


def part_files(path: str) -> list[str]:
    """The data files of a table: the file itself, or a directory's part files
    in partition order."""
    if os.path.isfile(path):
        return [path]
    return sorted(glob.glob(os.path.join(path, "part-*")))


def _ts(days_lo: str, rng: np.random.Generator, n: int, span_days: int) -> np.ndarray:
    base = np.datetime64(days_lo, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def warehouse_tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """TPC-H-like tables at scale factor ``sf`` (sf=1: 6 M lineitems)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values: list[str], n: int) -> np.ndarray:
        return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(
                ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"],
                n_cust,
            ),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    adjectives = "blue cold hot large new old red small".split()
    nouns = "anvil bolt gear gizmo plate ring rod widget".split()
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": [
                f"{adjectives[a]} {nouns[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": pick(
                ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": _ts("1995-01-01", rng, n_ord, 2404),
            "o_orderpriority": pick(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pick(["N", "R", "A"], n_line),
            "l_linestatus": pick(["F", "O"], n_line),
            "l_shipdate": _ts("1995-01-02", rng, n_line, 2498),
        }
    )
    ev_ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
    )
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ev_ts,
            "user_id": rng.integers(0, max(15, n_ev // 66), n_ev).astype(np.int64),
            "event_type": pick(["view", "click", "purchase", "signup", "error"], n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the fixtures
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(pick(_WORDS, n_words)))
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": pick(["en", "zh", "es", "fr", "de"], n_doc),
            "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] * 0.5 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels.astype(np.int32),
        }
    )
    return t


def write_warehouse(out_dir: str, sf: float, seed: int) -> dict[str, str]:
    """Write ``warehouse_tables`` as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, frame in warehouse_tables(sf, seed).items():
        table = pa.Table.from_pandas(frame, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", pa.array(frame["embedding"], pa.list_(pa.float32()))
            )
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        paths[name] = path
    return paths


def content_hash(paths: list[str]) -> str:
    """sha256 over the bytes of ``paths`` in the given order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


def input_stats(paths: dict[str, str]) -> dict[str, dict[str, int]]:
    """Row count and byte size of each input table."""
    out = {}
    for name, path in paths.items():
        files = part_files(path)
        if path.endswith(".parquet"):
            rows = sum(pq.ParquetFile(p).metadata.num_rows for p in files)
        else:  # CSV with a header line per file
            rows = 0
            for p in files:
                with open(p, "rb") as f:
                    rows += sum(1 for _ in f) - 1
        out[name] = {"rows": rows, "bytes": sum(os.path.getsize(p) for p in files)}
    return out
