"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same pair
gives byte-identical files.  Outputs are cached under the checkout by that
pair, so a repeat run pays only the reuse check in its set-up time.

* ``property_raw`` -- the 66-column raw CSV of the paper's daily DAG, with
  the workbook's header casing (``Property_Title``, ``SQFT_Basement``, ...)
  and its field-config CSV with mixed-case target names.
* ``corpus`` -- ``documents`` and ``embeddings`` parquet files in the
  declared test-table schemas, shaped like the engine's test corpus.
"""

from __future__ import annotations

import csv
import hashlib
import os
import shutil

import numpy as np

# Raw workbook header for each standardized column, in workbook order.
RAW_HEADERS = (
    "Property_Title Address Reviewed_Status Most_Recent_Status Source Market "
    "Occupancy Flood Street_Address City State Zip Property_Type Highway Train "
    "Tax_Rate SQFT_Basement HTW Pool Commercial Water Sewage Year_Built SQFT_MU "
    "SQFT_Total Parking Bed Bath BasementYesNo Layout Net_Yield IRR "
    "Rent_Restricted Neighborhood_Rating Previous_Rent List_Price Zestimate ARV "
    "Expected_Rent Rent_Zestimate Low_FMR High_FMR HOA Underwriting_Rehab "
    "Rehab_Calculation Paint Flooring_Flag Foundation_Flag Roof_Flag HVAC_Flag "
    "Kitchen_Flag Bathroom_Flag Appliances_Flag Windows_Flag Landscaping_Flag "
    "Trashout_Flag Latitude Longitude Subdivision Taxes Redfin_Value "
    "Selling_Reason Seller_Retained_Broker HOA_Flag Final_Reviewer School_Average"
).split()

# Target names as the workbook spells them (the engine lowers and trims).
_TARGET_SPELLING = {
    "property": "property", "leads": "Leads", "valuation": "Valuation",
    "hoa": "HOA", "rehab": "Rehab", "taxes": "Taxes",
}

# Shape of ``property_raw``; BENCHMARK.json's workload note states the same.
ROWS_PER_KEY = 4          # raw rows per (property_title, zip) key, on average
HOA_VALUES = 2500         # distinct hoa amounts
TAXES_VALUES = 200        # distinct taxes amounts
DIRTY_SHARE = 0.05        # strings that are empty or padded mixed case
NULL_INT_SHARE = 0.04     # integer cells left empty (NULL)

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ("en", "en", "de", "es", "fr", "zh")


def _string_column(rng, name, n, key):
    if name == "property_title":
        return np.char.add("Property ", key.astype(str))
    if name == "zip":
        return np.char.mod("%05d", 10000 + (key * 7919) % 89999)
    if name in ("address", "street_address"):
        return np.char.add(np.char.mod("%d ", key % 9973), "Main St")
    if name == "state":
        pool = np.array(["TX", "FL", "GA", "OH", "NC", "AZ", "TN", "MI"])
    elif name.endswith("_flag") or name in (
        "flood", "highway", "train", "pool", "commercial", "water", "sewage",
        "basement_yes_no", "rent_restricted", "htw",
    ):
        pool = np.array(["Yes", "No", "Unknown"])
    else:
        pool = np.array([f"{name.replace('_', ' ').title()} {i}" for i in range(24)])
    return pool[rng.integers(0, len(pool), n)]


def _dirty(rng, col):
    """Make ``DIRTY_SHARE`` of the cells empty or padded in mixed case."""
    pick = rng.random(len(col))
    out = col.astype(object)
    empty = pick < DIRTY_SHARE / 2
    padded = (pick >= DIRTY_SHARE / 2) & (pick < DIRTY_SHARE)
    out[empty] = ""
    out[padded] = np.char.add(np.char.add("  ", np.char.upper(col[padded])), " ")
    return out


def write_property_raw(out_dir: str, seed: int, rows: int) -> None:
    """Write ``property_raw.csv`` and ``field_config.csv`` into ``out_dir``."""
    from pyspark.sql import types as T

    from airflow_etl_minio_to_postgres_spark.schemas import PROPERTY_RAW_COLUMNS

    rng = np.random.default_rng(seed)
    key = rng.integers(0, max(1, rows // ROWS_PER_KEY), rows)
    hoa_pool = rng.choice(np.arange(50, 50 + 40 * HOA_VALUES), HOA_VALUES, replace=False)
    taxes_pool = rng.choice(np.arange(500, 500 + 100 * TAXES_VALUES), TAXES_VALUES, replace=False)
    cols = []
    for name, dtype, _ in PROPERTY_RAW_COLUMNS:
        if isinstance(dtype, T.StringType):
            col = _dirty(rng, _string_column(rng, name, rows, key))
        elif isinstance(dtype, T.LongType):
            if name == "hoa":
                vals = hoa_pool[rng.integers(0, HOA_VALUES, rows)]
            elif name == "taxes":
                vals = taxes_pool[rng.integers(0, TAXES_VALUES, rows)]
            else:
                vals = rng.integers(0, 5000, rows)
            col = vals.astype(str).astype(object)
            col[rng.random(rows) < NULL_INT_SHARE] = ""
        else:
            p, s = dtype.precision, dtype.scale
            lo, hi = {"latitude": (25.0, 48.0), "longitude": (-120.0, -70.0)}.get(
                name, (0.0, min(10.0 ** (p - s) - 1, 900000.0))
            )
            col = np.char.mod(f"%.{s}f", rng.uniform(lo, hi, rows))
        cols.append(col)
    with open(os.path.join(out_dir, "property_raw.csv"), "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(RAW_HEADERS)
        w.writerows(zip(*cols))
    with open(os.path.join(out_dir, "field_config.csv"), "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["Column_Name", "Target_Table"])
        for header, (_, _, target) in zip(RAW_HEADERS, PROPERTY_RAW_COLUMNS):
            w.writerow([header, _TARGET_SPELLING[target]])


def write_corpus(out_dir: str, seed: int, docs: int, vecs: int, dim: int = 64) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` into ``out_dir``
    in the declared test-table schemas.

    Documents are 10-100 words over a 30-word vocabulary, so n-gram and
    MinHash near-duplicates occur naturally, plus a few exact copies.
    Embeddings are unit vectors around ten labelled centres.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 101, docs)]
    for i in rng.choice(docs, max(1, docs // 600), replace=False):
        texts[i] = texts[(i + 1) % docs]
    documents = pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.integers(0, len(_LANGS), docs)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    centres = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, vecs)
    v = centres[label] + rng.normal(0.0, 1.5, (vecs, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))


def cached(cache_root: str, kind: str, seed: int, size: tuple, build) -> str:
    """Directory holding the ``kind`` inputs for ``(seed, size)``.

    ``build(dir)`` runs only on a miss.  It writes into a staging directory
    that is renamed into place, so an interrupted build never leaves a
    half-written entry.
    """
    tag = hashlib.sha256(repr((kind, seed, size)).encode()).hexdigest()[:16]
    final = os.path.join(cache_root, f"{kind}-{tag}")
    if os.path.isdir(final):
        return final
    os.makedirs(cache_root, exist_ok=True)
    staging = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    build(staging)
    os.replace(staging, final)
    return final
