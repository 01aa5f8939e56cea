"""Seeded input generation for the perfbench workloads.

Everything here is a pure function of ``seed`` (plus the size
arguments, which the workloads set from the constants below and the
tests shrink): the same seed writes byte-identical parquet and project
files. Nothing reads data from outside the directory it is given.

- ``warehouse_project`` / ``WarehouseState``: a star schema (orders fact
  over customers/products/stores) plus ~20 models, and the per-iteration
  upsert batches that land into the ``orders`` source. Order ids come
  from a bounded key domain, so every batch updates existing keys and
  every iteration rebuilds tables of the same size.
- ``pipeline_inputs``: ``documents`` and ``embeddings`` parquet in the
  schemas the registry gates read, with exact and near duplicates
  injected at the rates in ``DOC_RATES`` and clustered embeddings.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write_parquet(table: pa.Table, path: str) -> None:
    """Write through a temp name and rename, so a reader never sees a
    half-written file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def write_files(root: str, files: dict[str, str]) -> None:
    for rel, text in files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)


# ------------------------------------------------------- warehouse_daily
N_DAYS = 60
#: warehouse_daily sizes: the orders key domain, the dimensions and the
#: upsert batch landed before each build
N_ORDERS = 60_000
N_CUSTOMERS = 2_000
N_PRODUCTS = 400
N_STORES = 16
BATCH = 2_000
RECENT_DAYS = 7
STATUSES = ["placed", "shipped", "completed", "returned"]
SEGMENTS = ["consumer", "corporate", "smb", "public"]
REGIONS = ["north", "south", "east", "west", "central"]
CATEGORIES = ["books", "garden", "toys", "tools", "food", "music", "sport"]

#: staging views: name -> (source table, select list); the same SQL
#: defines the DuckDB views the output check runs against
WAREHOUSE_STAGING = {
    "stg_orders": ("orders", "order_id, customer_id, product_id, store_id, "
                   "order_day, quantity, unit_price_cents, status, updated_at"),
    "stg_order_changes": ("orders_changes", "order_id, customer_id, "
                          "product_id, store_id, order_day, quantity, "
                          "unit_price_cents, status, updated_at"),
    "stg_customers": ("customers", "customer_id, segment, region"),
    "stg_products": ("products", "product_id, category, list_price_cents"),
    "stg_stores": ("stores", "store_id, region as store_region, "
                   "opened_day"),
}

#: independent table marts (join + aggregate + window). ``{flt}`` is a
#: predicate on ``o.order_id`` so extra copies on wide boxes differ.
_MART_TEMPLATES = [
    """select c.customer_id, c.segment,
       cast(sum(o.quantity * o.unit_price_cents) as bigint) as revenue_cents,
       count(*) as n_orders,
       rank() over (partition by c.segment
                    order by cast(sum(o.quantity * o.unit_price_cents) as bigint) desc,
                             c.customer_id) as segment_rank
from {{ ref('stg_orders') }} o
join {{ ref('stg_customers') }} c on o.customer_id = c.customer_id
where {flt}
group by c.customer_id, c.segment""",
    """select p.product_id, p.category,
       cast(sum(o.quantity) as bigint) as units,
       cast(sum(o.quantity * o.unit_price_cents) as bigint) as revenue_cents,
       row_number() over (partition by p.category
                          order by cast(sum(o.quantity) as bigint) desc,
                                   p.product_id) as category_rank
from {{ ref('stg_orders') }} o
join {{ ref('stg_products') }} p on o.product_id = p.product_id
where {flt}
group by p.product_id, p.category""",
    """select store_id, order_day, revenue_cents,
       cast(sum(revenue_cents) over (
           partition by store_id order by order_day
           rows between unbounded preceding and current row) as bigint)
           as running_revenue_cents
from (
  select o.store_id, o.order_day,
         cast(sum(o.quantity * o.unit_price_cents) as bigint) as revenue_cents
  from {{ ref('stg_orders') }} o
  join {{ ref('stg_stores') }} s on o.store_id = s.store_id
  where o.order_day >= s.opened_day and {flt}
  group by o.store_id, o.order_day) d""",
    """select c.region, p.category,
       cast(sum(o.quantity * o.unit_price_cents) as bigint) as revenue_cents,
       count(distinct o.customer_id) as n_customers,
       dense_rank() over (partition by c.region
                          order by count(distinct o.customer_id) desc)
           as region_rank
from {{ ref('stg_orders') }} o
join {{ ref('stg_customers') }} c on o.customer_id = c.customer_id
join {{ ref('stg_products') }} p on o.product_id = p.product_id
where {flt}
group by c.region, p.category""",
    """select s.store_region, o.status, count(*) as n_orders,
       cast(sum(o.quantity) as bigint) as units,
       rank() over (partition by s.store_region order by count(*) desc,
                    o.status) as status_rank
from {{ ref('stg_orders') }} o
join {{ ref('stg_stores') }} s on o.store_id = s.store_id
where {flt}
group by s.store_region, o.status""",
    """select customer_id, product_id, units from (
  select o.customer_id, o.product_id,
         cast(sum(o.quantity) as bigint) as units,
         row_number() over (partition by o.customer_id
                            order by cast(sum(o.quantity) as bigint) desc,
                                     o.product_id) as rn
  from {{ ref('stg_orders') }} o
  join {{ ref('stg_products') }} p on o.product_id = p.product_id
  where p.list_price_cents > 0 and {flt}
  group by o.customer_id, o.product_id) t
where rn = 1""",
]

FCT_ORDERS_SQL = """{{ config(materialized='incremental', unique_key='order_id',
             incremental_strategy='merge') }}
select order_id, customer_id, product_id, store_id, order_day, quantity,
       unit_price_cents, status, updated_at
{% if is_incremental() %}
from {{ ref('stg_order_changes') }}
{% else %}
from {{ ref('stg_orders') }}
{% endif %}
"""

AGG_STORE_DAY_SQL = """{{ config(materialized='incremental',
             incremental_strategy='insert_overwrite',
             partition_by=['order_day']) }}
select store_id,
       cast(sum(quantity * unit_price_cents) as bigint) as revenue_cents,
       count(*) as n_orders, order_day
from {{ ref('stg_orders') }}
{% if is_incremental() %}
where order_day in (select distinct order_day from {{ ref('stg_order_changes') }})
{% endif %}
group by store_id, order_day
"""

#: the DuckDB-side check query for each incremental target
INCREMENTAL_ORACLES = {
    "fct_orders": "select * from stg_orders",
    "agg_store_day": (
        "select store_id, cast(sum(quantity * unit_price_cents) as bigint) "
        "as revenue_cents, count(*) as n_orders, order_day "
        "from stg_orders group by store_id, order_day"
    ),
}


def warehouse_marts(n_marts: int) -> dict[str, str]:
    """{mart name: select SQL (with ref() calls)} for ``n_marts`` marts.
    The first len(_MART_TEMPLATES) marts see every order; later copies
    (wide boxes) each keep a different residue class of order ids."""
    marts = {}
    for i in range(n_marts):
        copy, t = divmod(i, len(_MART_TEMPLATES))
        flt = "1 = 1" if copy == 0 else f"o.order_id % {copy + 1} = 0"
        marts[f"mart_{i:02d}"] = _MART_TEMPLATES[t].replace("{flt}", flt)
    return marts


class WarehouseState:
    """The orders key domain and its current state. ``land(i)`` applies
    upsert batch ``i`` and rewrites the ``orders`` (full current state)
    and ``orders_changes`` (the batch) source files; both keep a fixed
    size for every ``i``."""

    def __init__(self, data_dir: str, seed: int, n_orders: int,
                 n_customers: int, n_products: int, n_stores: int,
                 batch: int):
        self.data_dir = data_dir
        self.seed = seed
        self.batch = batch
        rng = np.random.default_rng([seed, 0])
        self.n_customers = n_customers
        # the first n_stores * N_DAYS orders cover every (store, day)
        # pair, so agg_store_day always has exactly that many rows
        cover = n_stores * N_DAYS
        if n_orders < cover:
            raise ValueError(f"n_orders must be >= {cover}")
        store = np.concatenate([
            np.repeat(np.arange(n_stores), N_DAYS),
            rng.integers(0, n_stores, n_orders - cover),
        ])
        day = np.concatenate([
            np.tile(np.arange(N_DAYS), n_stores),
            rng.integers(0, N_DAYS, n_orders - cover),
        ])
        self.cols = {
            "order_id": np.arange(n_orders, dtype=np.int64),
            "customer_id": rng.integers(0, n_customers, n_orders),
            "product_id": rng.integers(0, n_products, n_orders),
            "store_id": store.astype(np.int64),
            "order_day": day.astype(np.int32),
            "quantity": rng.integers(1, 11, n_orders).astype(np.int32),
            "unit_price_cents": rng.integers(100, 100_000, n_orders
                                             ).astype(np.int32),
            "status": rng.integers(0, len(STATUSES), n_orders),
            "updated_at": np.zeros(n_orders, dtype=np.int64),
        }
        is_recent = self.cols["order_day"] >= N_DAYS - RECENT_DAYS
        self.recent = np.flatnonzero(is_recent)
        self.older = np.flatnonzero(~is_recent)
        drng = np.random.default_rng([seed, 1])
        write_parquet(pa.table({
            "customer_id": np.arange(n_customers, dtype=np.int64),
            "segment": pa.array([SEGMENTS[i] for i in drng.integers(
                0, len(SEGMENTS), n_customers)]),
            "region": pa.array([REGIONS[i] for i in drng.integers(
                0, len(REGIONS), n_customers)]),
        }), self.path("customers"))
        write_parquet(pa.table({
            "product_id": np.arange(n_products, dtype=np.int64),
            "category": pa.array([CATEGORIES[i] for i in drng.integers(
                0, len(CATEGORIES), n_products)]),
            "list_price_cents": drng.integers(100, 100_000, n_products
                                              ).astype(np.int32),
        }), self.path("products"))
        write_parquet(pa.table({
            "store_id": np.arange(n_stores, dtype=np.int64),
            "region": pa.array([REGIONS[i % len(REGIONS)]
                                for i in range(n_stores)]),
            "opened_day": drng.integers(0, N_DAYS // 2, n_stores
                                        ).astype(np.int32),
        }), self.path("stores"))

    def path(self, table: str) -> str:
        return os.path.join(self.data_dir, f"{table}.parquet")

    def _table(self, idx=None) -> pa.Table:
        cols = {k: (v if idx is None else v[idx])
                for k, v in self.cols.items()}
        status = cols.pop("status")
        t = pa.table(cols)
        labels = pa.array(STATUSES).take(pa.array(status))
        return t.add_column(t.schema.get_field_index("updated_at"),
                            "status", labels)

    def land(self, i: int) -> None:
        """Apply upsert batch ``i`` (mostly orders of the last
        RECENT_DAYS days: late updates, as a daily load sees them)."""
        rng = np.random.default_rng([self.seed, 2, i])
        n_recent = min(len(self.recent), self.batch * 4 // 5)
        idx = np.sort(np.concatenate([
            rng.choice(self.recent, n_recent, replace=False),
            rng.choice(self.older, self.batch - n_recent, replace=False),
        ]))
        c = self.cols
        c["quantity"][idx] = rng.integers(1, 11, len(idx))
        c["unit_price_cents"][idx] = rng.integers(100, 100_000, len(idx))
        c["status"][idx] = rng.integers(0, len(STATUSES), len(idx))
        c["customer_id"][idx] = rng.integers(0, self.n_customers, len(idx))
        c["updated_at"][idx] = i + 1
        write_parquet(self._table(idx), self.path("orders_changes"))
        write_parquet(self._table(), self.path("orders"))


def warehouse_project(root: str, n_marts: int) -> dict[str, str]:
    """Write the warehouse project under ``root`` (sources under
    ``root/data``). Returns {mart name: select SQL with ref() calls}."""
    data = os.path.join(root, "data")
    marts = warehouse_marts(n_marts)
    files = {"dbt_project.yml": (
        "name: wh\nversion: '1.0'\nprofile: wh\nmodel-paths: ['models']\n")}
    src = ["version: 2", "sources:", "  - name: raw", "    tables:"]
    for table in ("orders", "orders_changes", "customers", "products",
                  "stores"):
        src += [f"      - name: {table}", "        external:",
                f"          location: '{os.path.join(data, table)}.parquet'"]
    files["models/sources.yml"] = "\n".join(src) + "\n"
    for name, (table, select) in WAREHOUSE_STAGING.items():
        files[f"models/staging/{name}.sql"] = (
            "{{ config(materialized='view') }}\n"
            f"select {select}\nfrom {{{{ source('raw', '{table}') }}}}\n"
        )
    for name, body in marts.items():
        files[f"models/marts/{name}.sql"] = (
            "{{ config(materialized='table') }}\n" + body + "\n"
        )
    files["models/marts/fct_orders.sql"] = FCT_ORDERS_SQL
    files["models/marts/agg_store_day.sql"] = AGG_STORE_DAY_SQL
    files["models/schema.yml"] = """version: 2
models:
  - name: stg_customers
    columns:
      - name: customer_id
        tests: [unique, not_null]
  - name: fct_orders
    columns:
      - name: order_id
        tests: [unique, not_null]
      - name: customer_id
        tests:
          - not_null
          - relationships:
              to: ref('stg_customers')
              field: customer_id
  - name: mart_00
    columns:
      - name: customer_id
        tests: [unique, not_null]
  - name: mart_01
    columns:
      - name: product_id
        tests: [unique]
  - name: agg_store_day
    columns:
      - name: store_id
        tests: [not_null]
"""
    write_files(root, files)
    return marts


# ---------------------------------------------------------- pipeline_ops
#: injected duplicate rates of the generated corpus
DOC_RATES = {"exact_dup": 0.05, "near_dup": 0.10, "token_mutation": 0.08}
LANGS = ["en", "en", "de", "fr", "es", "zh"]
EMB_DIM = 64
N_CLUSTERS = 16


def _vocabulary(rng: random.Random, n: int = 1200) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters)
                          for _ in range(rng.randrange(2, 10))))
    return sorted(words)


def pipeline_inputs(data_dir: str, seed: int, n_docs: int = 600,
                    n_vecs: int = 500) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet`` into
    ``data_dir``. Returns the injected counts."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng)
    # exact counts (not per-doc coin flips) keep the work seed-independent
    n_exact = round(DOC_RATES["exact_dup"] * n_docs)
    n_near = round(DOC_RATES["near_dup"] * n_docs)
    kind = ["exact"] * n_exact + ["near"] * n_near
    kind += ["fresh"] * (n_docs - 10 - len(kind))
    rng.shuffle(kind)
    kind = ["fresh"] * 10 + kind
    texts: list[str] = []
    for i in range(n_docs):
        if kind[i] == "exact":
            # exact duplicate up to case and whitespace (what d1's
            # normalized fingerprint folds together)
            t = rng.choice(texts)
            t = ("  " + t.upper()) if rng.random() < 0.5 else t.replace(
                " ", "  ", 3)
        elif kind[i] == "near":
            toks = rng.choice(texts).lower().split()
            for j in range(len(toks)):
                if rng.random() < DOC_RATES["token_mutation"]:
                    toks[j] = rng.choice(vocab)
            t = " ".join(toks)
        else:
            t = " ".join(rng.choice(vocab)
                         for _ in range(rng.randrange(20, 120)))
        texts.append(t)
    write_parquet(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([rng.choice(LANGS) for _ in texts]),
        "source": pa.array([f"src{rng.randrange(8)}" for _ in texts]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(data_dir, "documents.parquet"))

    # orthonormal cluster centres and small noise: in-cluster cosines
    # sit near 0.8, cross-cluster ones about 5 sigma below d6/sd1's 0.35
    # threshold, so near-duplicate components follow the clusters
    nrng = np.random.default_rng(seed)
    centers = np.linalg.qr(nrng.normal(size=(EMB_DIM, N_CLUSTERS)))[0].T
    label = nrng.permutation(np.arange(n_vecs) % N_CLUSTERS)
    vecs = centers[label] + nrng.normal(scale=0.06, size=(n_vecs, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
            ).astype(np.float32)
    write_parquet(pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array((label % 4).astype(np.int32)),
    }), os.path.join(data_dir, "embeddings.parquet"))
    return {"docs": n_docs, "exact_dup": n_exact, "near_dup": n_near,
            "vecs": n_vecs, "clusters": N_CLUSTERS}
