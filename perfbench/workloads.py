"""The three workloads: inputs, one timed pass, and the correctness check.

Each pass is a closed loop over the engine's public functions: one call
at a time, each waiting for the previous one. ``run_pass`` wraps every
call in a span; ``check`` runs after the timed window and returns one
entry per check with the problems it found.
"""

from __future__ import annotations

import csv
import gzip
import math
import os
import shutil

import numpy as np

from . import gen

PLACES = {"full": 60, "tiny": 20}
DOCS = {"full": 800, "tiny": 200}
# vectors, query batches per pass, queries per batch
ANN = {"full": (40_000, 4, 64), "tiny": (4_000, 2, 16)}
ANN_DIM = 16
ANN_K = 5
RECALL_FLOOR = 0.8

CURATION_QUERIES = [
    "curation_pipeline", "dedup_clusters", "tfidf_similar_pairs",
    "dedup_minhash_pairs", "ngram_lm_score",
]

SPANS = {
    "region_build": [
        "plans.pipeline.run_region",
        "plans.tileset.build_tileset_native",
        "sources.mvt.mbtiles_to_dir",
        "plans.tileset.execute_manifest",
    ],
    "corpus_curation": [f"plans.{q}" for q in CURATION_QUERIES],
    "ann_index": [
        "operators.similarity.ann_index_build",
        "operators.similarity.ann_index_write",
        "operators.similarity.ann_index_read",
        "operators.similarity.ann_index_topk",
        "streaming.ann_maintenance.ann_index_stream_add",
        "operators.similarity.ann_index_compact",
    ],
}
WRITE_SPANS = {
    "plans.pipeline.run_region",
    "plans.tileset.build_tileset_native",
    "sources.mvt.mbtiles_to_dir",
    "plans.tileset.execute_manifest",
    "operators.similarity.ann_index_write",
    "streaming.ann_maintenance.ann_index_stream_add",
    "operators.similarity.ann_index_compact",
}


class Workload:
    """What ``run.py`` needs from a workload: ``run_pass``, ``check``,
    and the per-pass figures below."""

    name: str
    # spans whose latency query_p50_s / query_p75_s report
    query_spans: set[str]
    inputs: dict

    def query_samples(self, pass_spans: list) -> list[float]:
        return [s.wall_s for s in pass_spans if s.name in self.query_spans]

    def phases(self, pass_spans: list) -> dict[str, float]:
        return {}

    def written_bytes(self) -> int:
        return 0

    def cleanup(self, p: int) -> None:
        pass


class RegionBuild(Workload):
    """Long CSV -> pivot -> extents -> GeoJSON join -> per-decade
    tilesets -> tile directories -> upload manifest."""

    name = "region_build"
    query_spans = {"plans.tileset.build_tileset_native"}

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.work = work
        self.inputs = gen.region_inputs(
            os.path.join(work, "in"), seed, PLACES[size]
        )
        self.last: dict = {}

    def run_pass(self, rec, p: int) -> None:
        from map_v2_etl_spark.plans.pipeline import run_region, tile_layers
        from map_v2_etl_spark.plans.tileset import (
            LocalObjectStore,
            build_tileset_native,
            execute_manifest,
            upload_manifest,
        )
        from map_v2_etl_spark.sources.geojson import read_geojson
        from map_v2_etl_spark.sources.mvt import mbtiles_to_dir

        spark = self.spark
        out = os.path.join(self.work, f"pass{p}")
        proc = os.path.join(out, "proc")
        os.makedirs(proc)
        with rec.span("plans.pipeline.run_region", p, [proc]):
            outputs = run_region(
                spark, self.inputs["long_csv"], proc, "raw",
                geojson_path=self.inputs["geojson"],
            )
        mbtiles = {}
        for dec in ("00-09", "10-18"):
            dd = dec[:2]
            path = os.path.join(out, f"states-{dd}.mbtiles")
            with rec.span("plans.tileset.build_tileset_native", p, [path]):
                # each decade's build reads its inputs back, as the
                # reference's per-decade csvcut + tile-join does
                wide = spark.read.csv(
                    outputs["wide"], header=True, inferSchema=False
                )
                shapes = read_geojson(spark, self.inputs["geojson"], ["GEOID"])
                layers = tile_layers(wide, shapes, "raw")
                build_tileset_native(
                    {"states": layers[f"choropleth/{dec}"],
                     "states-centers": layers[f"bubble/{dec}"]},
                    path, f"states-{dd}", zoom=6, id_col="id",
                )
            mbtiles[f"states-{dd}"] = path
        tile_dirs = {}
        for name, path in mbtiles.items():
            d = os.path.join(out, name)
            with rec.span("sources.mvt.mbtiles_to_dir", p, [d]):
                mbtiles_to_dir(path, d)
            tile_dirs[name] = d
        store = os.path.join(out, "store")
        with rec.span("plans.tileset.execute_manifest", p, [store]):
            manifest = upload_manifest(
                "states", wide_csv=outputs["wide"],
                extents_csv=outputs["extents"], tile_dirs=tile_dirs,
            )
            execute_manifest(manifest, LocalObjectStore(store))
        self.last = {"out": out, "outputs": outputs, "tile_dirs": tile_dirs}

    def written_bytes(self) -> int:
        return gen.tree_bytes(self.last["out"]) if self.last else 0

    def cleanup(self, p: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"pass{p}"), ignore_errors=True)

    def check(self) -> dict[str, list[str]]:
        import duckdb

        from map_v2_etl_spark.sources.mvt import decode_tile

        res: dict[str, list[str]] = {}
        wide_csv = self.last["outputs"]["wide"]
        with open(wide_csv, newline="") as fh:
            rows = list(csv.reader(fh))
        header, body = rows[0], rows[1:]
        res["wide_rows"] = (
            [] if len(body) == self.inputs["places"]
            else [f"wide rows {len(body)} != places {self.inputs['places']}"]
        )

        metric_cols = [c for c in header if c not in ("GEOID", "n", "pl")]
        exprs = []
        for j, c in enumerate(metric_cols):
            v = f'TRY_CAST("{c}" AS DOUBLE)'
            exprs += [
                f"min({v}) AS mn{j}", f"max({v}) AS mx{j}",
                f"quantile_cont({v}, [0.01, 0.99]) AS q{j}",
            ]
        con = duckdb.connect()
        try:
            got = con.execute(
                f"SELECT {', '.join(exprs)} FROM read_csv('{wide_csv}', "
                "header=true, all_varchar=true)"
            ).fetchone()
        finally:
            con.close()
        expect = {}
        for j, c in enumerate(metric_cols):
            q = got[3 * j + 2] or [None, None]
            expect[c] = (got[3 * j], got[3 * j + 1], q[0], q[1])
        problems = []
        with open(self.last["outputs"]["extents"], newline="") as fh:
            ext = {r["id"]: r for r in csv.DictReader(fh)}
        if sorted(ext) != sorted(metric_cols):
            problems.append("extents ids differ from wide metric columns")
        for c, want in expect.items():
            row = ext.get(c)
            if row is None:
                continue
            have = [row[k] for k in ("min", "max", "q1", "q99")]
            for h, w in zip(have, want):
                h = float(h) if h not in ("", None) else None
                if (h is None) != (w is None) or (
                    h is not None and not math.isclose(h, w, rel_tol=1e-9, abs_tol=1e-9)
                ):
                    problems.append(f"extents {c}: {have} vs {want}")
                    break
        res["extents_vs_duckdb"] = problems[:5]

        for name, d in self.last["tile_dirs"].items():
            pbfs = sorted(
                os.path.join(dp, f)
                for dp, _, fs in os.walk(d) for f in fs if f.endswith(".pbf")
            )
            if not pbfs:
                res[f"tile_{name}"] = ["no tiles written"]
                continue
            with open(pbfs[-1], "rb") as fh:
                layers = decode_tile(gzip.decompress(fh.read()))
            names = {lyr["name"] for lyr in layers}
            ok = names and names <= {"states", "states-centers"} and all(
                lyr["features"] for lyr in layers
            )
            res[f"tile_{name}"] = [] if ok else [f"bad tile layers {names}"]
        return res


class CorpusCuration(Workload):
    """Five registered read-only text queries over a generated
    documents table, each forced through the noop sink."""

    name = "corpus_curation"
    query_spans = set(SPANS["corpus_curation"])

    def __init__(self, spark, work: str, seed: int, size: str):
        from map_v2_etl_spark.plans.registry import REGISTRY, all_queries

        all_queries()
        self.spark = spark
        self.registry = REGISTRY
        self.inputs = gen.corpus_inputs(
            os.path.join(work, "sf"), seed, DOCS[size]
        )

    def run_pass(self, rec, p: int) -> None:
        sf = self.inputs["sf_dir"]
        for q in CURATION_QUERIES:
            with rec.span(f"plans.{q}", p):
                df = self.registry[q].fn(self.spark, sf)
                df.write.format("noop").mode("overwrite").save()

    def check(self) -> dict[str, list[str]]:
        import duckdb

        from tools.check_oracle import compare

        con = duckdb.connect()
        path = os.path.join(self.inputs["sf_dir"], "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        res = {}
        try:
            for q in CURATION_QUERIES:
                df = self.registry[q].fn(self.spark, self.inputs["sf_dir"])
                problems, _ = compare(q, df, con)
                res[f"oracle_{q}"] = problems
                self.spark.catalog.clearCache()
        finally:
            con.close()
        return res


class AnnIndex(Workload):
    """Build, write and read a residual IVF-PQ index, answer query
    batches, then stream-add a held-out quarter, compact, and query
    once more."""

    name = "ann_index"
    query_spans = {"operators.similarity.ann_index_topk"}

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.work = work
        n, self.batches, bq = ANN[size]
        self.inputs = gen.ann_inputs(
            os.path.join(work, "in"), seed, n, ANN_DIM, self.batches, bq
        )
        self.n_base = len(self.inputs["_base_ids"])
        self.last: dict = {}

    def run_pass(self, rec, p: int) -> None:
        from pyspark.sql import functions as F

        from map_v2_etl_spark.operators.similarity import (
            ann_index_build,
            ann_index_compact,
            ann_index_read,
            ann_index_topk,
            ann_index_write,
        )
        from map_v2_etl_spark.streaming.ann_maintenance import (
            ann_index_stream_add,
        )

        spark = self.spark
        ins = self.inputs
        path = os.path.join(self.work, f"index{p}")
        n = self.n_base
        results = []

        def topk(index, corpus_paths, b):
            with rec.span("operators.similarity.ann_index_topk", p) as s:
                corpus = spark.read.parquet(*corpus_paths)
                q = (
                    spark.read.parquet(ins["queries"])
                    .filter(F.col("batch") == b).drop("batch")
                )
                rows = ann_index_topk(
                    index, q, corpus, k=ANN_K, candidates=50, nprobe=8
                ).collect()
                s.extra["result_rows"] = len(rows)
            results.append((b, rows))

        with rec.span("operators.similarity.ann_index_build", p):
            index = ann_index_build(
                spark.read.parquet(ins["base"]), m=4, ksub=16,
                centroid_stride=max(1, n // 256) | 1,
                dim=ANN_DIM, train_sample_mod=max(1, n // 60_000),
            )
        with rec.span("operators.similarity.ann_index_write", p, [path]):
            ann_index_write(index, path)
        with rec.span("operators.similarity.ann_index_read", p):
            index = ann_index_read(spark, path)
        for b in range(self.batches):
            topk(index, [ins["base"]], b)
        with rec.span(
            "streaming.ann_maintenance.ann_index_stream_add", p, [path]
        ):
            ann_index_stream_add(spark, path, ins["arrivals"])
        with rec.span("operators.similarity.ann_index_compact", p, [path]):
            index = ann_index_compact(spark, path)
        topk(index, [ins["base"], ins["arrivals"]], 0)
        self.last = {"path": path, "results": results}

    def query_samples(self, pass_spans: list) -> list[float]:
        # the batches before maintenance; the post-compaction batch
        # belongs to the maintenance phase
        return super().query_samples(pass_spans)[:-1]

    def phases(self, pass_spans: list) -> dict[str, float]:
        def total(*names):
            return sum(s.wall_s for s in pass_spans if s.name.endswith(names))

        return {
            "index_build_s": total(".ann_index_build", ".ann_index_write"),
            "maintain_s": total(".ann_index_stream_add", ".ann_index_compact"),
        }

    def written_bytes(self) -> int:
        return gen.tree_bytes(self.last["path"]) if self.last else 0

    def cleanup(self, p: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"index{p}"), ignore_errors=True)

    def check(self) -> dict[str, list[str]]:
        ins = self.inputs
        bq = len(ins["_queries"]) // self.batches
        res = {}
        results = self.last["results"]
        unit = {}
        for key in ("base", "all"):
            v = ins[f"_{key}_vecs"]
            unit[key] = v / np.linalg.norm(v, axis=1, keepdims=True)
        for j, (b, rows) in enumerate(results):
            key = "all" if j == len(results) - 1 else "base"
            ids = ins[f"_{key}_ids"]
            qv = ins["_queries"][b * bq:(b + 1) * bq]
            problems = []
            if len(rows) != bq * ANN_K:
                problems.append(f"{len(rows)} rows != {bq}x{ANN_K}")
            qu = qv / np.linalg.norm(qv, axis=1, keepdims=True)
            exact = np.argsort(-(qu @ unit[key].T), axis=1)[:, :ANN_K]
            got: dict[int, set] = {}
            for r in rows:
                got.setdefault(int(r["q_id"]), set()).add(int(r["nn_id"]))
            hits = sum(
                len(got.get(b * bq + i, set()) & set(ids[exact[i]].tolist()))
                for i in range(bq)
            )
            recall = hits / (bq * ANN_K)
            if recall < RECALL_FLOOR:
                problems.append(f"recall@{ANN_K} {recall:.3f} < {RECALL_FLOOR}")
            res[f"batch{j}{'_after_compact' if key == 'all' else ''}"] = problems
        return res


WORKLOADS = {
    w.name: w for w in (RegionBuild, CorpusCuration, AnnIndex)
}
