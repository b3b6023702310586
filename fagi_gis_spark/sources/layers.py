"""Derived POI layers (FAGI data model) over the driver's tables.

Stand-ins for the reference's relations
(/root/reference/fagi-gis/src/main/resources/schema.sql):

* ``poi_a`` / ``poi_b``  <- ``dataset_a/b_geometries`` (schema.sql:32-67)
* ``links``              <- ``links`` (schema.sql:80-89)
* ``triples_a/b``        <- ``dataset_a/b_metadata`` (schema.sql:20-27)

Derivation is seeded by ``o_orderkey`` with multiplicative hashing on a
micro-degree integer lattice: every coordinate is an exact multiple of
1e-6 degrees, so WKT round-trips (parse -> compute -> %.6f format) are
bit-stable and the DuckDB oracle can reproduce results closed-form.

Layout of the synthetic world (FIXTURES.md §2-§4):
  lon in [-1, 1), lat in [50, 52)  (a 2°x2° window)
  B geometries = A displaced by <= ~150 m; geometry-type mix by k%10:
  0-5 POINT, 6-7 POLYGON (square), 8 LINESTRING, 9 MULTIPOINT.
  poi_a_raw additionally carries a duplicate POINT row for k%50==6
  subjects to exercise the one-geometry-per-subject precedence dedup
  (Constants.java:85-95, Importer.java:306-379).
  links: 95%% of keys; k%20==7 crossed (+1), k%20==11 dangling,
  k%50==21 adds a second A-node for the same B-node (duplicate-target
  links as in samples/links_sample.nt).
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import shutil
import uuid
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from fagi_gis_spark.session import session_memo

#: printf-style fixed 6-decimal formatting — Spark: format_string (JVM),
#: DuckDB: printf. Inputs are lattice values (never halfway), so the two
#: engines' rounding agrees.
_FMT = {"spark": "format_string", "duckdb": "printf"}


def _pt(fmt: str, x: str, y: str) -> str:
    return f"{fmt}('%.6f', {x}) || ' ' || {fmt}('%.6f', {y})"


def poi_base_sql() -> str:
    return """
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         (CAST(o_orderkey AS BIGINT) * 2654435761) % 2000000 AS hx,
         (CAST(o_orderkey AS BIGINT) * 2246822519) % 2000000 AS hy,
         ((CAST(o_orderkey AS BIGINT) * 97 + 13) % 2001) - 1000 AS dxe6,
         ((CAST(o_orderkey AS BIGINT) * 57 + 7) % 2001) - 1000 AS dye6
  FROM orders
"""


def _poi_sql(dialect: str, side: str) -> str:
    """One POI layer. Side 'a' uses (hx, hy); side 'b' displaces by
    (dxe6, dye6) microdegrees and shifts the type mix by 3."""
    f = _FMT[dialect]
    if side == "a":
        lon = "(hx - 1000000) / 1e6"
        lat = "CAST(50 AS DOUBLE) + hy / 1e6"
        g = "k % 10"
        de6 = "(5 + k % 16) * 10"
    else:
        lon = "(hx - 1000000 + dxe6) / 1e6"
        lat = "CAST(50 AS DOUBLE) + (hy + dye6) / 1e6"
        g = "(k + 3) % 10"
        de6 = "(5 + (k + 5) % 16) * 10"
    pre = f"""
  SELECT k, '{side}:' || CAST(k AS STRING) AS subject,
         {lon} AS lon, {lat} AS lat, {g} AS g, {de6} / 1e6 AS d
  FROM poi_base
"""
    pt = _pt(f, "lon", "lat")
    sq = (
        "'POLYGON ((' || "
        + _pt(f, "lon - d", "lat - d")
        + " || ', ' || "
        + _pt(f, "lon + d", "lat - d")
        + " || ', ' || "
        + _pt(f, "lon + d", "lat + d")
        + " || ', ' || "
        + _pt(f, "lon - d", "lat + d")
        + " || ', ' || "
        + _pt(f, "lon - d", "lat - d")
        + " || '))'"
    )
    ls = (
        "'LINESTRING (' || "
        + _pt(f, "lon", "lat")
        + " || ', ' || "
        + _pt(f, "lon + 0.000300", "lat + 0.000200")
        + " || ', ' || "
        + _pt(f, "lon + 0.000600", "lat")
        + " || ')'"
    )
    mp = (
        "'MULTIPOINT ((' || "
        + _pt(f, "lon", "lat")
        + " || '), (' || "
        + _pt(f, "lon + 0.000200", "lat + 0.000200")
        + " || '))'"
    )
    return f"""
  SELECT subject, lon, lat,
         CASE WHEN g <= 5 THEN 'POINT (' || {pt} || ')'
              WHEN g <= 7 THEN {sq}
              WHEN g = 8 THEN {ls}
              ELSE {mp} END AS geom_wkt,
         k
  FROM ({pre}) t
"""


def poi_a_extra_sql(dialect: str) -> str:
    """Duplicate-geometry rows for the precedence-dedup test: k%50==6
    subjects (which are POLYGON, g=6) get an extra POINT row."""
    f = _FMT[dialect]
    pt = _pt(f, "(hx - 1000000) / 1e6", "CAST(50 AS DOUBLE) + hy / 1e6")
    return f"""
  SELECT 'a:' || CAST(k AS STRING) AS subject,
         (hx - 1000000) / 1e6 AS lon, CAST(50 AS DOUBLE) + hy / 1e6 AS lat,
         'POINT (' || {pt} || ')' AS geom_wkt,
         k
  FROM poi_base WHERE k % 50 = 6
"""


def links_sql() -> str:
    return """
  SELECT 'a:' || CAST(k AS STRING) AS node_a,
         CASE WHEN k % 20 = 7  THEN 'b:' || CAST(k + 1 AS STRING)
              WHEN k % 20 = 11 THEN 'b:' || CAST(k + 1000000000 AS STRING)
              ELSE 'b:' || CAST(k AS STRING) END AS node_b
  FROM poi_base WHERE k % 20 <> 19
  UNION ALL
  SELECT 'a:' || CAST(k AS STRING) AS node_a,
         'b:' || CAST(k - 1 AS STRING) AS node_b
  FROM poi_base WHERE k % 50 = 21
"""


def triples_sql(side: str) -> str:
    """Metadata layer: name + address property chain (depth 2) + type tag,
    with deliberately different vocabularies per side (FIXTURES.md §4)."""
    s = side
    onto = f"http://{s}.example/"
    namep = "name" if s == "a" else "label"
    addrp = "addr" if s == "a" else "address"
    return f"""
  SELECT '{s}:' || CAST(k AS STRING) AS subject,
         '{onto}{namep}' AS predicate,
         'poi ' || CAST(k % 1000 AS STRING) || ' ' ||
            CASE k % 5 WHEN 0 THEN 'cafe' WHEN 1 THEN 'plaza' WHEN 2 THEN 'museum'
                       WHEN 3 THEN 'station' ELSE 'park' END AS object,
         'en' AS lang, '' AS dtype
  FROM poi_base
  UNION ALL
  SELECT '{s}:' || CAST(k AS STRING) AS subject,
         '{onto}{addrp}' AS predicate,
         '_:bn{s}' || CAST(k AS STRING) AS object,
         '' AS lang, '' AS dtype
  FROM poi_base WHERE k % 3 = 0
  UNION ALL
  SELECT '_:bn{s}' || CAST(k AS STRING) AS subject,
         '{onto}street' AS predicate,
         'street ' || CAST(k % 100 AS STRING) AS object,
         '' AS lang, '' AS dtype
  FROM poi_base WHERE k % 3 = 0
  UNION ALL
  SELECT '{s}:' || CAST(k AS STRING) AS subject,
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS predicate,
         '{onto}Poi' AS object, '' AS lang, '' AS dtype
  FROM poi_base
"""


def wgs_triples_sql(dialect: str) -> str:
    """WGS84 point-property triples (geo:lat / geo:long) for k%%4==0
    subjects of layer A — the second geometry serialization the reference
    auto-detects and synthesizes POINTs from (Constants.java:40-41,
    Importer.java:316-318, 479-507)."""
    f = _FMT[dialect]
    return f"""
  SELECT 'a:' || CAST(k AS STRING) AS subject,
         'http://www.w3.org/2003/01/geo/wgs84_pos#lat' AS predicate,
         {f}('%.6f', CAST(50 AS DOUBLE) + hy / 1e6) AS object,
         '' AS lang, 'http://www.w3.org/2001/XMLSchema#decimal' AS dtype
  FROM poi_base WHERE k % 4 = 0
  UNION ALL
  SELECT 'a:' || CAST(k AS STRING) AS subject,
         'http://www.w3.org/2003/01/geo/wgs84_pos#long' AS predicate,
         {f}('%.6f', (hx - 1000000) / 1e6) AS object,
         '' AS lang, 'http://www.w3.org/2001/XMLSchema#decimal' AS dtype
  FROM poi_base WHERE k % 4 = 0
"""


#: admin polygon layer (FIXTURES.md §5): a 17x17 grid of 0.125° squares
#: covering the test window plus 4 overlapping squares (ambiguity cases).
#: Grid origin offset by half a micro-degree so no lattice point ever sits
#: on a boundary (ray-cast vs floor-rule agreement is then exact).
GRID_X0 = -1.0000005
GRID_Y0 = 49.9999995
GRID_STEP = 0.125
GRID_N = 17
OVERLAP_SQUARES = [  # (polygon_id, center_x, center_y, half_size)
    ("ovl_0", -0.5, 50.5, 0.1000005),
    ("ovl_1", 0.0, 51.0, 0.1000005),
    ("ovl_2", 0.5, 51.5, 0.1000005),
    ("ovl_3", 0.25, 50.25, 0.1000005),
]


def admin_polygons_pdf():
    """The small polygon dimension as pandas (driver-side)."""
    import pandas as pd

    rows = []

    def sq_wkt(x0, y0, x1, y1):
        return (
            f"POLYGON (({x0:.7f} {y0:.7f}, {x1:.7f} {y0:.7f}, "
            f"{x1:.7f} {y1:.7f}, {x0:.7f} {y1:.7f}, {x0:.7f} {y0:.7f}))"
        )

    for i in range(GRID_N):
        for j in range(GRID_N):
            x0 = GRID_X0 + i * GRID_STEP
            y0 = GRID_Y0 + j * GRID_STEP
            rows.append((f"adm_{i}_{j}", sq_wkt(x0, y0, x0 + GRID_STEP, y0 + GRID_STEP)))
    for pid, cx, cy, h in OVERLAP_SQUARES:
        rows.append((pid, sq_wkt(cx - h, cy - h, cx + h, cy + h)))
    return pd.DataFrame(rows, columns=["polygon_id", "geom_wkt"])


def admin_assign_oracle_sql() -> str:
    """Closed-form PIP assignment (grid = floor rule; overlaps = range
    tests) for the DuckDB oracle."""
    parts = [
        f"SELECT subject, 'adm_' || CAST(CAST(floor((lon - ({GRID_X0!r})) / {GRID_STEP!r}) AS BIGINT) AS STRING)"
        f" || '_' || CAST(CAST(floor((lat - ({GRID_Y0!r})) / {GRID_STEP!r}) AS BIGINT) AS STRING) AS polygon_id"
        " FROM poi_a"
    ]
    for pid, cx, cy, h in OVERLAP_SQUARES:
        parts.append(
            f"SELECT subject, '{pid}' AS polygon_id FROM poi_a"
            f" WHERE lon > {cx - h!r} AND lon < {cx + h!r}"
            f" AND lat > {cy - h!r} AND lat < {cy + h!r}"
        )
    return "\nUNION ALL\n".join(parts)


def spark_layers(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Build the derived layers as DataFrames from ``{sf_dir}/orders.parquet``.

    ``poi_a_raw`` includes the duplicate-geometry rows; ``poi_a`` is the
    raw layer — the engine's precedence dedup (operators.dedup) reduces
    raw -> one geometry per subject.
    """
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView("orders")
    base = spark.sql(f"SELECT * FROM ({poi_base_sql()}) t")
    base.createOrReplaceTempView("poi_base")
    out = {
        "poi_a": spark.sql(f"SELECT * FROM ({_poi_sql('spark', 'a')}) t"),
        "poi_b": spark.sql(f"SELECT * FROM ({_poi_sql('spark', 'b')}) t"),
        "links": spark.sql(f"SELECT * FROM ({links_sql()}) t"),
        "triples_a": spark.sql(f"SELECT * FROM ({triples_sql('a')}) t"),
        "triples_b": spark.sql(f"SELECT * FROM ({triples_sql('b')}) t"),
        "wgs_triples": spark.sql(f"SELECT * FROM ({wgs_triples_sql('spark')}) t"),
    }
    out["poi_a_raw"] = out["poi_a"].unionByName(
        spark.sql(f"SELECT * FROM ({poi_a_extra_sql('spark')}) t")
    )
    return out


#: layer names written by the bootstrap import (``poi_a`` is the
#: precedence-deduped layer — the engine pipeline's first operator,
#: applied at import time exactly like the reference's Importer).
MATERIALIZED_LAYER_KEYS = (
    "poi_a",
    "poi_b",
    "links",
    "triples_a",
    "triples_b",
    "wgs_triples",
    "poi_a_raw",
)

#: layers stored WITH the ingest-time geometry summary columns
#: (cx/cy/npts/gtype) appended — see materialized_layers
SUMMARY_LAYER_KEYS = ("poi_a", "poi_b")


#: modules whose source decides the stored layers (geo_udfs/wkt feed
#: the stored summary columns — any edit re-keys the import)
_LAYER_MODULES = (
    __name__,
    "fagi_gis_spark.operators.dedup_precedence",
    "fagi_gis_spark.functions.geo_udfs",
    "fagi_gis_spark.geometry.wkt",
)


def input_tag(sf_dir: str, table: str = "orders") -> str:
    """Input identity of a stored table derived from ``{sf_dir}/{table}
    .parquet``: the sf dir's path + that file's stats."""
    h = hashlib.sha1()
    h.update(os.path.abspath(sf_dir).encode())
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    h.update(f"{st.st_mtime_ns}:{st.st_size}".encode())
    return f"{os.path.basename(sf_dir.rstrip('/'))}-{h.hexdigest()[:12]}"


class StoredTable:
    """A write-once stored table, the engine's one import-once mechanism.

    ``path`` is the layer-cache root (``root``, else
    ``$SPARK_GRAFT_LAYER_CACHE``, else ``~/.cache/spark_graft_layers``)
    plus ``name`` plus ``key``, a hash of the source text of the named
    ``modules`` — the modules that decide the content, so an edit to any
    of them re-keys the table and a stale copy is never read.
    ``ensure()`` returns the path, first running ``build(dir)`` into
    ``<path>.tmp.<pid>`` and renaming it into place when the path is
    absent; a ``build`` that raises has its temp dir removed and the
    error re-raised, so a failed import leaves nothing behind.  Content
    is deterministic and the rename atomic: a reader sees a whole table
    or none, and a concurrent writer that loses the race deletes its
    (equal) copy.  A query and its DuckDB oracle read
    the same ``StoredTable`` value, so they cannot disagree on the path.
    """

    def __init__(
        self,
        name: str,
        modules: tuple[str, ...],
        build: Callable[[str], None],
        root: str | None = None,
    ):
        h = hashlib.sha1()
        for m in modules:
            with open(importlib.util.find_spec(m).origin, "rb") as f:
                h.update(f.read())
        self.key = h.hexdigest()[:12]
        # default under ~/.cache, not /tmp: hosts that sweep /tmp would
        # silently charge a full re-import to whichever query runs next
        # (observed as 2-3x one-off inflation of an unrelated query)
        root = root or os.environ.get(
            "SPARK_GRAFT_LAYER_CACHE",
            os.path.join(os.path.expanduser("~"), ".cache", "spark_graft_layers"),
        )
        self.path = os.path.join(root, f"{name}-{self.key}")
        self._build = build

    def ensure(self) -> str:
        if not os.path.isdir(self.path):
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            tmp = f"{self.path}.tmp.{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)  # a crashed run's leftovers
            try:
                self._build(tmp)
            except BaseException:
                shutil.rmtree(tmp, ignore_errors=True)
                raise
            try:
                os.rename(tmp, self.path)
            except OSError:  # lost a concurrent race: the winner's is equal
                shutil.rmtree(tmp, ignore_errors=True)
        return self.path


#: storage buckets of every bucketed stored directory (``write_bucketed``)
_INDEX_BUCKETS = 16


def write_bucketed(df: DataFrame, path: str, by: list[str], sort: bool = False) -> None:
    """Write ``df`` to ``path`` as ``_INDEX_BUCKETS`` parquet storage
    buckets on ``by`` (each bucket file sorted on ``by`` when ``sort``),
    the storage format of the day-2 indexes inside a ``StoredTable``.
    Spark writes bucket files only through a catalog table, so the write
    goes through a throwaway external table whose entry is dropped
    afterwards (dropping an external table keeps its files).  The schema
    and bucket spec go to ``<path>/_bucketing.json`` (Spark skips
    ``_``-prefixed files when it lists a table) for ``read_bucketed``."""
    path = os.path.abspath(path)
    name = f"stored_write_{uuid.uuid4().hex}"
    w = df.write.bucketBy(_INDEX_BUCKETS, *by)
    if sort:
        w = w.sortBy(*by)
    w.option("path", path).saveAsTable(name)
    df.sparkSession.sql(f"DROP TABLE {name}")
    with open(os.path.join(path, "_bucketing.json"), "w") as f:
        json.dump({"ddl": df._jdf.schema().toDDL(), "by": list(by), "sort": sort}, f)


def read_bucketed(spark: SparkSession, path: str) -> DataFrame:
    """The ``write_bucketed`` directory at ``path`` as a bucketed table:
    an external catalog entry named after the path, registered from
    ``_bucketing.json`` without a Spark job, so joins and groupings on
    the bucket columns read the stored side without an exchange
    (``SelectedBucketsCount`` in the scan)."""
    path = os.path.abspath(path)
    with open(os.path.join(path, "_bucketing.json")) as f:
        spec = json.load(f)
    cols = ", ".join(spec["by"])
    sort = f"SORTED BY ({cols}) " if spec["sort"] else ""
    name = f"stored_{hashlib.sha1(path.encode()).hexdigest()[:16]}"
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({spec['ddl']}) USING parquet "
        f"CLUSTERED BY ({cols}) {sort}INTO {_INDEX_BUCKETS} BUCKETS LOCATION '{path}'"
    )
    return spark.table(name)


def _per_layer(spark: SparkSession, task: Callable[[str], object]) -> dict:
    """``{k: task(k)}`` for every key of ``MATERIALIZED_LAYER_KEYS``,
    each call on its own pool thread so the layers' Spark jobs run
    concurrently.  Returns once every call has ended; the first error
    is re-raised after the calls still running have finished.

    Every task gets its own ``inheritable_thread_target`` wrapper: the
    wrapper clones the caller's local properties (job group, job
    description) and session tags when it is made, and each thread
    running it installs that clone.  Without it the jobs lose the
    caller's group and description; with one wrapper shared by all tasks, concurrent SQL
    executions share one ``Properties`` object and overwrite each
    other's ``spark.sql.execution.id``."""
    keys = MATERIALIZED_LAYER_KEYS
    with ThreadPoolExecutor(len(keys)) as ex:
        futures = [
            ex.submit(inheritable_thread_target(spark)(partial(task, k))) for k in keys
        ]
        try:
            return {k: f.result() for k, f in zip(keys, futures)}
        except BaseException:
            ex.shutdown(cancel_futures=True)
            raise


def materialized_layers(
    spark: SparkSession, sf_dir: str, cache_root: str | None = None
) -> dict[str, DataFrame]:
    """Bootstrap-once derived layers (S4): the reference imports each
    dataset into PostGIS tables ONCE (core/Importer.java) and every query
    afterwards reads the tables; deriving the layers per query — orders
    scan, WKT synthesis, the precedence-dedup window shuffle — charges
    that import to every downstream operator.  This stores the import
    as one ``StoredTable`` (under ``cache_root`` when given), keyed by
    input identity + layer-definition source hash, and returns
    DataFrames reading the stored tables.  Deterministic content, so a
    cache hit can never change any query's output.

    The seven layer writes, and after them the seven read-backs, run as
    concurrent Spark jobs, one wrapped task per layer (``_per_layer``),
    as the reference imports datasets A and B on two importer threads
    (FusionGISCLI.java:264-292).  Each layer is a small job dominated
    by fixed per-job cost, so run one after another they leave cores
    idle.

    The ``orders``/``poi_base`` temp views are still registered (lazy)
    for queries that phrase themselves in SQL.  The returned DataFrames
    are memoized per (session, stored path) through
    ``session.session_memo``: repeated calls in one session skip the
    parquet schema-discovery jobs and the view re-registration; each call
    returns a fresh ``dict``.
    """

    built = []

    def _write(tmp: str) -> None:
        from pyspark.sql import functions as F

        from fagi_gis_spark.functions.geo_udfs import u_geo_summary
        from fagi_gis_spark.operators.dedup_precedence import precedence_dedup
        from fagi_gis_spark.partitioning import ensure_min_parallelism

        built.append(tmp)
        L = spark_layers(spark, sf_dir)  # also registers the orders/poi_base views
        L["poi_a"] = precedence_dedup(L["poi_a_raw"])
        # ingest-time geometry summary (cx/cy/npts/gtype): the reference
        # Importer parses each WKT ONCE into typed PostGIS columns at
        # import; storing the parse here means the whole fusion/scoring
        # family reads typed columns and never re-parses per query (the
        # r5 tree re-ran the summary UDF over both layers on every
        # fuse_* invocation).  Deterministic per-row derivation — the
        # same amortization contract as the import itself.
        for k in SUMMARY_LAYER_KEYS:
            L[k] = (
                L[k]
                .select("*", u_geo_summary(F.col("geom_wkt")).alias("__s"))
                .select(
                    "*",
                    F.col("__s.cx").alias("cx"),
                    F.col("__s.cy").alias("cy"),
                    F.col("__s.npts").alias("npts"),
                    F.col("__s.gtype").alias("gtype"),
                )
                .drop("__s")
            )

        def write(k: str) -> None:
            # write each layer at >= default parallelism: a layer that
            # derives straight from the (unsplittable, single-row-group)
            # orders scan would otherwise land as 1-3 files and every
            # downstream join streams it through 1-3 tasks (guide §2 —
            # scan parallelism is set at WRITE time for stored layers)
            ensure_min_parallelism(L[k]).write.mode("overwrite").parquet(
                os.path.join(tmp, k)
            )

        _per_layer(spark, write)

    stored = StoredTable(input_tag(sf_dir), _LAYER_MODULES, _write, cache_root)

    def _import() -> dict[str, DataFrame]:
        base = stored.ensure()
        if not built:  # a hit: register the lazy views spark_layers provides
            spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView(
                "orders"
            )
            spark.sql(f"SELECT * FROM ({poi_base_sql()}) t").createOrReplaceTempView(
                "poi_base"
            )
        out = _per_layer(spark, lambda k: spark.read.parquet(os.path.join(base, k)))
        for k in SUMMARY_LAYER_KEYS:
            # classic 5-column view under the original key (parquet column
            # pruning makes the projection free), full typed frame under
            # "<k>_sum" for the fusion/scoring family
            out[f"{k}_sum"] = out[k]
            out[k] = out[k].select("subject", "lon", "lat", "geom_wkt", "k")
        return out

    return dict(session_memo(spark, ("layers", stored.path), _import))


def oracle_ctes() -> str:
    """DuckDB WITH-clause body defining the same layers closed-form
    (plus per-row helper columns g/d/npoints/centroid used by operator
    oracles). Append operator-specific SELECTs after this."""
    a = _poi_sql("duckdb", "a")
    b = _poi_sql("duckdb", "b")
    return f"""
poi_base AS ({poi_base_sql()}),
poi_a AS ({a}),
poi_b AS ({b}),
poi_a_raw AS (SELECT * FROM poi_a UNION ALL SELECT * FROM ({poi_a_extra_sql('duckdb')}) t),
links AS ({links_sql()}),
triples_a AS ({triples_sql('a')}),
triples_b AS ({triples_sql('b')}),
wgs_triples AS ({wgs_triples_sql('duckdb')}),
poi_a_attrs AS (
  SELECT subject, lon, lat, k, k % 10 AS g,
         (5 + k % 16) * 10 / 1e6 AS d,
         CASE WHEN k % 10 <= 5 THEN 1 WHEN k % 10 <= 7 THEN 5
              WHEN k % 10 = 8 THEN 3 ELSE 2 END AS npts,
         CASE WHEN k % 10 <= 5 THEN 'POINT' WHEN k % 10 <= 7 THEN 'POLYGON'
              WHEN k % 10 = 8 THEN 'LINESTRING' ELSE 'MULTIPOINT' END AS gtype,
         CASE WHEN k % 10 = 8 THEN lon + 0.000300
              WHEN k % 10 = 9 THEN lon + 0.000100 ELSE lon END AS cx,
         CASE WHEN k % 10 = 8 THEN lat + 0.000100
              WHEN k % 10 = 9 THEN lat + 0.000100 ELSE lat END AS cy
  FROM poi_a
),
poi_b_attrs AS (
  SELECT subject, lon, lat, k, (k + 3) % 10 AS g,
         (5 + (k + 5) % 16) * 10 / 1e6 AS d,
         CASE WHEN (k + 3) % 10 <= 5 THEN 1 WHEN (k + 3) % 10 <= 7 THEN 5
              WHEN (k + 3) % 10 = 8 THEN 3 ELSE 2 END AS npts,
         CASE WHEN (k + 3) % 10 <= 5 THEN 'POINT' WHEN (k + 3) % 10 <= 7 THEN 'POLYGON'
              WHEN (k + 3) % 10 = 8 THEN 'LINESTRING' ELSE 'MULTIPOINT' END AS gtype,
         CASE WHEN (k + 3) % 10 = 8 THEN lon + 0.000300
              WHEN (k + 3) % 10 = 9 THEN lon + 0.000100 ELSE lon END AS cx,
         CASE WHEN (k + 3) % 10 = 8 THEN lat + 0.000100
              WHEN (k + 3) % 10 = 9 THEN lat + 0.000100 ELSE lat END AS cy
  FROM poi_b
)"""
