"""SQL-callable sketch functions.

``register_sql_functions(spark)`` registers vectorized pandas UDFs so
SQL users can consume sketch blobs (e.g. from checkpoint/lineage
tables) without touching Python:

    SELECT lang, hll_estimate(sketch) FROM lang_sketches
    SELECT kll_quantile(sketch, 0.5)  FROM latency_sketches
    SELECT bloom_contains(sketch, 'needle') ...

All functions are Arrow-vectorized (no per-row Python); blobs are
deserialized once per distinct blob per batch (tiny LRU inside the
kernel) since sketch rows are few and wide.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

from .session import ensure_shipped
from .sketch.hashing import ascii_lower, length_group_matrices


def _sketch_of(blob: bytes, cache: dict):
    # key on the FULL blob — a prefix key collides for sketches whose
    # headers + leading registers agree (e.g. low-cardinality HLLs)
    key = bytes(blob)
    sk = cache.get(key)
    if sk is None:
        from facs_spark.sketch import sketch_from_bytes
        if len(cache) > 64:
            cache.clear()
        sk = cache[key] = sketch_from_bytes(key)
    return sk


def _reader(return_type: str, fn, blobs: int = 1):
    """The one SQL reader body: a pandas UDF returning
    ``fn(sketch, ..., *args)`` per row, where the first ``blobs``
    columns are sketch blobs, each distinct one deserialized once per
    Arrow batch."""
    @pandas_udf(return_type)
    def read(*cols: pd.Series) -> pd.Series:
        cache: dict = {}
        return pd.Series([
            fn(*(_sketch_of(b, cache) for b in row[:blobs]), *row[blobs:])
            for row in zip(*cols)])
    return read


def _key(k):
    """Integral keys hash as int64, anything else as its str."""
    return int(k) if isinstance(k, (int, np.integer)) else str(k)


def _estimate(sk):
    return sk.estimate()


def _quantile(sk, q):
    return sk.quantile(float(q))


def _contains(sk, k):
    return bool(sk.contains_batch([_key(k)])[0])


def _bloom_contains(sk, k):
    # SAME normalization as the build side: byte-level ASCII tolower,
    # never unicode str.lower()
    enc = [ascii_lower(("" if k is None else str(k)).encode("utf-8"))]
    hit = False
    for _idx, mat in length_group_matrices(enc):
        hit = bool(sk.contains_batch(mat)[0])
    return hit


# SQL name -> (return type, fn[, leading blob columns]) for ``_reader``
_READERS = {
    "hll_estimate": ("double", _estimate),
    "theta_estimate": ("double", _estimate),
    "ams_f2": ("double", _estimate),
    "kll_quantile": ("double", _quantile),
    "tdigest_quantile": ("double", _quantile),
    "cms_count": ("long", lambda sk, k: int(sk.query_batch([k])[0])),
    "theta_intersect": ("double", lambda a, b: a.intersect_estimate(b), 2),
    "theta_difference": ("double", lambda a, b: a.difference_estimate(b),
                         2),
    "bloom_contains": ("boolean", _bloom_contains),
    "mg_estimate": ("long", lambda sk, k: int(sk.estimate(_key(k)))),
    # MG's error_bound is a property (N/(k+1)), not a method
    "mg_error_bound": ("long", lambda sk: int(sk.error_bound)),
    "cs_estimate": ("double", lambda sk, k: float(sk.estimate(_key(k)))),
    "cs_error_bound": ("double", lambda sk: float(sk.error_bound())),
    # cuckoo blobs answer through the same probe (dispatch is by magic
    # inside sketch_from_bytes); a distinct name keeps SQL readable
    "cbf_contains": ("boolean", _contains),
    "cuckoo_contains": ("boolean", _contains),
}


def register_sql_functions(spark: SparkSession) -> None:
    ensure_shipped(spark)
    for name, spec in _READERS.items():
        spark.udf.register(name, _reader(*spec))
    for name, udf in sketch_agg_udfs().items():
        spark.udf.register(name, udf)


def sketch_agg_udf(spec):
    """A true grouped-agg pandas UDAF building one sketch blob per
    group: ``df.groupBy("lang").agg(sketch_agg_udf(spec)("doc_id"))``
    or, registered, ``SELECT lang, hll_estimate(hll_agg(doc_id)) ...
    GROUP BY lang`` — the north rule's "mergeable UDAF" surface in
    its most literal Spark form.

    Scale contract, stated plainly: Spark GROUPED_AGG pandas UDFs run
    with NO partial-aggregation stage — every group's raw values
    shuffle to one reducer.  This form is the convenience/SQL surface
    for moderate groups; the 100-TB path remains
    ``ops/sketch_agg.grouped_sketches`` (map-side partial sketches,
    blob-only shuffle).  Both produce identical sketch state for the
    same input set (merge associativity — tested).
    """
    @pandas_udf("binary")
    def agg(v: pd.Series) -> bytes:
        sk = spec.new_sketch()
        spec.update(sk, v)
        return sk.to_bytes()

    return agg


def sketch_agg_udfs() -> dict:
    """Default-parameter grouped-agg builders for SQL registration."""
    return {name: sketch_agg_udf(spec)
            for name, spec in _agg_specs().items()}


def _agg_specs() -> dict:
    """SQL name -> the ``SketchSpec`` its builder uses: the sketch
    class's defaults, except a tighter CBF and 32-bit cuckoo
    fingerprints."""
    from .ops.sketch_agg import SketchSpec
    params = {"cbf": {"error_rate": 1e-6}, "cuckoo": {"fbits": 32}}
    return {f"{kind}_agg": SketchSpec.make(kind, "_", **params.get(kind, {}))
            for kind in ("hll", "kll", "tdigest", "theta", "mg", "ams", "cs",
                         "cbf", "cuckoo")}
