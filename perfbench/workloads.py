"""The benchmark's workloads: inputs, timed passes, reference outputs and layers.

Each workload writes its inputs once per run (keyed by workload, size
and seed), then runs closed-loop passes over the stored inputs. A pass
is a list of *steps*; each step builds one operator's DataFrame and
runs one action on it (the output digest). References come from
DuckDB over the same stored inputs, reusing the SQL of
``__spark_entry__.oracle_sql()`` and its helpers.
"""

from __future__ import annotations

import os
import random

import numpy as np

import __spark_entry__ as E
from digest import duck_digest
from pyrosar_spark.datagen import generate_documents, generate_osv
from pyrosar_spark.operators.asof import osv_match
from pyrosar_spark.operators.corpus import strip_boilerplate_chunks
from pyrosar_spark.operators.dedup import dedup_clusters, dup_ngram_spans, near_dup_pairs
from pyrosar_spark.operators.ingest import docs_to_scenes
from pyrosar_spark.operators.select import select
from pyrosar_spark.operators.spatial import CELL_DEG, aoi_frame, cover_cells, knn_scenes, spatial_join
from pyrosar_spark.operators.tiles import assign_hgt
from pyrosar_spark.sources.catalog import read_scenes, write_scenes


def _size(base: int, scale: float, floor: int) -> int:
    return max(int(base * scale), floor)


def _files_and_bytes(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Workload:
    """One workload. Subclasses set ``name`` and ``n_docs`` and fill the
    hooks below; ``steps`` are the timed pass, in order."""

    name = ""
    # per-layer engine metrics printed as spark.<layer>.<metric>
    spark_layers: dict[str, tuple[str, ...]] = {}

    def __init__(self, spark, work: str, seed: int, scale: float, con):
        self.spark, self.work, self.seed, self.scale, self.con = spark, work, seed, scale, con

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def generate(self) -> None:
        raise NotImplementedError

    def references(self) -> dict[str, tuple[list[str], tuple[int, int, int]]]:
        raise NotImplementedError

    def steps(self) -> list[tuple[str, callable]]:
        raise NotImplementedError

    def prefixes(self) -> list[tuple[str, callable]]:
        """Nested pipeline prefixes materialised in the traced run."""
        return []

    def trace_extras(self, run) -> None:
        """Traced-run spans outside the pass, run once after the reps."""

    def layer_metrics(self, t: dict) -> dict[str, float]:
        raise NotImplementedError


def _duck_ref(con, sql: str, columns: list[str] | None = None):
    cols = columns or con.sql(sql).columns
    return cols, duck_digest(con, sql, cols)


def _diff(t: dict, hi: str, lo: str | None, key: str) -> float:
    v = t[hi][key]
    return v - t[lo][key] if lo else v


def _spark_diff(t: dict, hi: str, lo: str | None, m: str) -> float:
    v = t[hi]["spark"][m]
    return v - t[lo]["spark"][m] if lo else v


# ---------------------------------------------------------------------------
# scene_select: the flagship (bench.py) pipeline over stored documents
# ---------------------------------------------------------------------------

MINDATE, MAXDATE = "20150101T000000", "20151231T235959"
FLAGSHIP_RECT = (-180.0, -60.0, -60.0, 60.0)
FLAGSHIP_WKT = "POLYGON((-180 -60, -60 -60, -60 60, -180 60, -180 -60))"
SCENE_COLS = ["doc_id", "start", "stop", "vv", "corners", "xmin", "xmax", "ymin", "ymax"]


class SceneSelect(Workload):
    name = "scene_select"
    spark_layers = {
        layer: ("exec_cpu_s", "gc_s", "shuffle_write_bytes", "codegen_fallbacks")
        for layer in ("scan", "ingest", "select", "tiles", "aggregate")
    }
    # layer -> (prefix span that ends it, the prefix before it)
    _chain = (
        ("scan", "scan", None),
        ("ingest", "ingest", "scan"),
        ("select", "select", "ingest"),
        ("tiles", "tiles", "select"),
        ("aggregate", "scene_select", "tiles"),
    )

    def __init__(self, *a):
        super().__init__(*a)
        self.n_docs = _size(50_000, self.scale, 2_000)
        self.docs = self.path("docs")

    def generate(self) -> None:
        parts = 4 * self.spark.sparkContext.defaultParallelism
        generate_documents(
            self.spark, self.n_docs, seed=self.seed, include_golden=False, n_partitions=parts
        ).write.mode("overwrite").parquet(self.docs)

    def references(self):
        sat = E._rect_sat_pred("ring", *FLAGSHIP_RECT)
        x0, y0, x1, y1 = FLAGSHIP_RECT
        sql = f"""
            WITH m AS (
                SELECT substr(t, strpos(t, '|') + 1) AS t FROM (
                    SELECT list_filter(spans, x -> x.kind = 'scene_meta')[1].text AS t
                    FROM read_parquet('{self.docs}/*.parquet'))
                WHERE t IS NOT NULL),
            f AS (SELECT json_extract_string(t, '$.start') AS start,
                         json_extract_string(t, '$.stop') AS stop,
                         CAST(json_extract(t, '$.polarizations') AS VARCHAR[]) AS pols,
                         CAST(json_extract(t, '$.coordinates') AS DOUBLE[][]) AS c FROM m),
            s AS (SELECT list_min([p[1] FOR p IN c]) AS xmin, list_max([p[1] FOR p IN c]) AS xmax,
                         list_min([p[2] FOR p IN c]) AS ymin, list_max([p[2] FOR p IN c]) AS ymax,
                         flatten([[p[1], p[2]] FOR p IN c]) || [c[1][1], c[1][2]] AS ring
                  FROM f
                  WHERE start >= '{MINDATE}' AND stop <= '{MAXDATE}' AND list_contains(pols, 'VV')),
            boxed AS MATERIALIZED (
                SELECT * FROM s
                WHERE xmin <= {x1!r} AND xmax >= {x0!r} AND ymin <= {y1!r} AND ymax >= {y0!r}),
            hits AS (SELECT xmin, xmax, ymin, ymax FROM boxed WHERE {sat}),
            lattice AS (
                SELECT la, lo FROM hits,
                  unnest(generate_series(cast(floor(ymin) as bigint), cast(floor(ymax) as bigint))) t1(la),
                  unnest(generate_series(cast(floor(xmin) as bigint), cast(floor(xmax) as bigint))) t2(lo)
            )
            SELECT {E._HGT_NAME} AS tile_id, count(*) AS count FROM lattice GROUP BY 1
        """
        return {"scene_select": _duck_ref(self.con, sql)}

    def _scenes(self):
        return docs_to_scenes(
            self.spark.read.parquet(self.docs), with_geometry="defer", columns=SCENE_COLS
        )

    def _selected(self):
        return select(
            self._scenes(), mindate=MINDATE, maxdate=MAXDATE, polarizations=["VV"],
            aoi_wkt=FLAGSHIP_WKT, return_value=["doc_id", "xmin", "xmax", "ymin", "ymax"],
        )

    def steps(self):
        return [("scene_select", lambda: assign_hgt(self._selected()).groupBy("tile_id").count())]

    def trace_extras(self, run) -> None:
        self.catalog = CatalogJoins(self)
        self.catalog.trace(run)

    def prefixes(self):
        return [
            ("scan", lambda: self.spark.read.parquet(self.docs)),
            ("ingest", self._scenes),
            ("select", self._selected),
            ("tiles", lambda: assign_hgt(self._selected())),
        ]

    def layer_metrics(self, t):
        m = {}
        for layer, hi, lo in self._chain:
            for name in self.spark_layers[layer]:
                m[f"spark.{layer}.{name}"] = _spark_diff(t, hi, lo, name)
        m["scan.s"] = t["scan"]["s"]
        m["ingest.parse_s"] = _diff(t, "ingest", "scan", "s")
        m["select.s"] = _diff(t, "select", "ingest", "s")
        m["tiles.s"] = _diff(t, "tiles", "select", "s")
        m["aggregate.s"] = _diff(t, "scene_select", "tiles", "s")
        m["ingest.rows_out"] = t["ingest"]["rows"]
        m["select.rows_out"] = t["select"]["rows"]
        m["select.hit_ratio"] = t["select"]["rows"] / max(t["ingest"]["rows"], 1)
        m["tiles.pairs_out"] = t["tiles"]["rows"]
        m["ingest.build_jobs"] = t["ingest"]["build_jobs"]
        m["select.build_jobs"] = _diff(t, "select", "ingest", "build_jobs")
        m["tiles.build_jobs"] = _diff(t, "tiles", "select", "build_jobs")
        m["trace.selftime_sum_s"] = sum(
            m[k] for k in ("scan.s", "ingest.parse_s", "select.s", "tiles.s", "aggregate.s")
        )
        m.update(self.catalog.layer_metrics(t))
        return m


# ---------------------------------------------------------------------------
# catalog layers: traced on scene_select (write_scenes, read_scenes and the
# join operators over the stored catalog)
# ---------------------------------------------------------------------------

N_CATALOG_DOCS = 2_000
N_AOIS = 36
N_OSV = 2000


class CatalogJoins:
    """A scene catalog built with ``write_scenes`` from its own seeded
    documents, read back with ``read_scenes`` and queried with
    ``spatial_join`` (36 AOI rectangles), ``knn_scenes`` (k=3) and
    ``osv_match`` (2000 orbit files). Its catalog is pre-parsed, so the
    joins bypass the ingest/select path of the flagship."""

    spark_layers = {
        layer: ("exec_cpu_s", "gc_s", "shuffle_write_bytes", "spill_disk_bytes", "peak_exec_mem_bytes")
        for layer in ("spatial.join", "spatial.knn", "asof", "catalog.read")
    }

    def __init__(self, wl: Workload):
        self.spark = wl.spark
        self.con = wl.con
        self.seed = wl.seed
        self.n_docs = _size(N_CATALOG_DOCS, wl.scale, 200)
        self.docs, self.catalog, self.osv = (
            wl.path("catalog_docs"), wl.path("catalog"), wl.path("osv")
        )
        rng = random.Random(wl.seed)
        self.rects = []
        for _ in range(N_AOIS):
            x0, y0 = float(rng.randint(-180, 150)), float(rng.randint(-60, 45))
            self.rects.append((x0, y0, x0 + rng.randint(5, 30), y0 + rng.randint(5, 15)))

    def generate(self) -> None:
        sc = self.spark.sparkContext
        generate_documents(
            self.spark, self.n_docs, seed=self.seed + 1, include_golden=False,
            n_partitions=sc.defaultParallelism,
        ).write.mode("overwrite").parquet(self.docs)
        generate_osv(self.spark, N_OSV, seed=self.seed).coalesce(1).write.mode(
            "overwrite"
        ).parquet(self.osv)

    def write(self) -> None:
        write_scenes(docs_to_scenes(self.spark.read.parquet(self.docs), with_geometry=True), self.catalog)
        self.files_written, cat_bytes = _files_and_bytes(self.catalog)
        self.bytes_ratio = cat_bytes / max(_files_and_bytes(self.docs)[1], 1)

    def references(self):
        # one read of the many small catalog files; every query below scans it
        self.con.sql(
            "CREATE OR REPLACE TEMP TABLE catalog AS "
            f"SELECT * FROM read_parquet('{self.catalog}/*/*.parquet')"
        )
        scan = "catalog"
        sqls = E._scene_oracle_sqls()

        def on_ours(sql: str) -> str:
            return sql.replace(E._oracle_scan("scenes"), scan).replace(
                E._oracle_scan("osv"), f"read_parquet('{self.osv}/*.parquet')"
            )

        join_sql = f"WITH s AS (SELECT doc_id, xmin, xmax, ymin, ymax, ring FROM {scan}) " + (
            " UNION ALL ".join(
                f"SELECT doc_id, 'a{i}' AS aoi_id FROM s WHERE " + E._rect_sat_pred("ring", *r)
                for i, r in enumerate(self.rects)
            )
        )
        asof_sql = on_ours(sqls["scene_osv_asof"])
        self.matched_frac = self.con.sql(
            f"SELECT avg(CASE WHEN osv_filename IS NULL THEN 0 ELSE 1 END) FROM ({asof_sql})"
        ).fetchone()[0]
        return {
            "spatial.join": _duck_ref(self.con, join_sql),
            "spatial.knn": _duck_ref(self.con, on_ours(sqls["scene_knn"])),
            "asof": _duck_ref(self.con, asof_sql),
        }

    def _scenes(self):
        return read_scenes(self.spark, self.catalog)

    def _aois(self):
        return aoi_frame(
            self.spark,
            [
                (f"a{i}", f"POLYGON(({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))")
                for i, (x0, y0, x1, y1) in enumerate(self.rects)
            ],
        )

    def trace(self, run) -> None:
        self.generate()
        run.span("catalog.write#0", self.write, "call")
        run.refs.update(self.references())
        run.span("catalog.read#0", self._scenes, "noop")
        run.span("spatial.join#0", lambda: spatial_join(self._scenes(), self._aois()), "digest")
        # filter-refine candidates: scene x AOI pairs sharing a cover cell
        a = cover_cells(self._aois(), "a_xmin", "a_xmax", "a_ymin", "a_ymax", CELL_DEG, out="cell")
        self.join_candidates = cover_cells(self._scenes(), cell_deg=CELL_DEG, out="cell").join(
            a, on="cell"
        ).count()
        run.span("spatial.knn#0", lambda: knn_scenes(self._scenes(), k=3), "digest")
        run.span(
            "asof#0",
            lambda: osv_match(self._scenes(), self.spark.read.parquet(self.osv), ["POE", "RES"]),
            "digest",
        )

    def layer_metrics(self, t):
        m = {}
        for layer, names in self.spark_layers.items():
            for name in names:
                m[f"spark.{layer}.{name}"] = t[layer]["spark"][name]
        cand = self.join_candidates
        m["spatial.join_s"] = t["spatial.join"]["s"]
        m["spatial.join_candidates"] = cand
        m["spatial.join_pairs_out"] = t["spatial.join"]["rows"]
        m["spatial.join_useful_ratio"] = t["spatial.join"]["rows"] / max(cand, 1)
        m["spatial.knn_s"] = t["spatial.knn"]["s"]
        m["spatial.knn_candidates"] = t["spatial.knn"]["spark"]["deepest_join_rows"]
        m["asof.s"] = t["asof"]["s"]
        m["asof.matched_frac"] = self.matched_frac
        m["catalog.read_s"] = t["catalog.read"]["s"]
        m["catalog.write_s"] = t["catalog.write"]["s"]
        m["ingest.hull_udf_s"] = t["catalog.write"]["spark"]["python_udf_s"]
        m["catalog.files_written"] = self.files_written
        m["catalog.bytes_per_input_byte"] = self.bytes_ratio
        m["spatial.join.build_jobs"] = t["spatial.join"]["build_jobs"]
        m["spatial.knn.build_jobs"] = t["spatial.knn"]["build_jobs"]
        m["asof.build_jobs"] = t["asof"]["build_jobs"]
        return m


# ---------------------------------------------------------------------------
# corpus_dedup: the text dedup operators over a generated corpus
# ---------------------------------------------------------------------------

# the shape of the contract's sf0.1 documents table: 30 filler words,
# 10-100 tokens per document, 5% of documents a copy of an earlier one
# plus " dup"
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = (["en"] * 41) + (["zh"] * 15) + (["es"] * 15) + (["fr"] * 15) + (["de"] * 14)
NEAR_DUP = dict(n_hashes=16, n_bands=4, shingle_k=2, threshold=0.2, max_bucket=1 << 40)


def generate_corpus(n: int, seed: int):
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    langs = rng.choice(LANGS, n)
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": langs.tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


class CorpusDedup(Workload):
    name = "corpus_dedup"
    spark_layers = {
        layer: ("exec_cpu_s", "gc_s", "shuffle_write_bytes", "jobs")
        for layer in ("dedup.near_dup", "dedup.ngram", "dedup.clusters", "corpus.boilerplate")
    }

    def __init__(self, *a):
        super().__init__(*a)
        self.n_docs = _size(1_000, self.scale, 200)
        self.corpus = self.path("corpus")

    def generate(self) -> None:
        import pyarrow.parquet as pq

        os.makedirs(self.corpus, exist_ok=True)
        pq.write_table(generate_corpus(self.n_docs, self.seed), f"{self.corpus}/documents.parquet")

    def references(self):
        self.con.sql(
            f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{self.corpus}/documents.parquet')"
        )
        # oracle_sql() first writes the contract's scene handoffs to fixed
        # paths with Spark; these references read only this run's corpus
        E._ensure_handoffs = lambda *a, **k: None
        sqls = E.oracle_sql()
        return {
            "dedup.near_dup": _duck_ref(self.con, sqls["near_dup_pairs"]),
            "dedup.ngram": _duck_ref(self.con, sqls["dup_ngram_spans"]),
            "corpus.boilerplate": _duck_ref(self.con, sqls["boilerplate_strip"]),
            "dedup.clusters": _duck_ref(self.con, sqls["dedup_clusters"], ["v", "cluster_id"]),
        }

    def _docs(self):
        return self.spark.read.parquet(f"{self.corpus}/documents.parquet")

    def _near(self):
        self.pairs = near_dup_pairs(self._docs(), "text", "doc_id", **NEAR_DUP)
        return self.pairs

    def steps(self):
        return [
            ("dedup.near_dup", self._near),
            ("dedup.ngram", lambda: dup_ngram_spans(self._docs(), n=6, min_docs=2, hash_mode="md5")),
            (
                "corpus.boilerplate",
                lambda: strip_boilerplate_chunks(self._docs(), chunk_tokens=4, min_docs=2, hash_mode="md5"),
            ),
            ("dedup.clusters", lambda: dedup_clusters(self.pairs)),
        ]

    def layer_metrics(self, t):
        m = {}
        for layer, names in self.spark_layers.items():
            for name in names:
                m[f"spark.{layer}.{name}"] = t[layer]["spark"][name]
        cand = t["dedup.near_dup"]["spark"]["deepest_join_rows"]
        m["dedup.near_dup_s"] = t["dedup.near_dup"]["s"]
        m["dedup.lsh_candidates"] = cand
        m["dedup.verify_ratio"] = t["dedup.near_dup"]["rows"] / max(cand, 1)
        m["dedup.ngram_s"] = t["dedup.ngram"]["s"]
        m["dedup.clusters_s"] = t["dedup.clusters"]["s"]
        m["dedup.clusters_jobs"] = t["dedup.clusters"]["spark"]["jobs"]
        m["corpus.boilerplate_s"] = t["corpus.boilerplate"]["s"]
        for layer in self.spark_layers:
            m[f"{layer}.build_jobs"] = t[layer]["build_jobs"]
        return m


WORKLOADS = {w.name: w for w in (SceneSelect, CorpusDedup)}
