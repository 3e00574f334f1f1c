"""The benchmark's workloads. Each drives the program only through its
public entry points and checks every job's output against a numpy oracle.

A workload has parts the runner calls in order: ``prepare`` (generate or
reuse the seeded inputs and compute the oracle; before Spark starts),
``register`` (hand the inputs to the program; part of set-up), then ``job``
(one closed-loop request: run and materialize) and ``check`` (compare with
the oracle) per job. A traced run adds the ``probe_jobs`` (jobs of the
layers a warm job leaves out, run and checked after the warm ones),
``probe`` (counts taken after them) and ``layers`` (per-layer metrics from
spans and the Spark event log).

"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np

from perfbench import gen, oracles

MOSAIC = (6, 4)      # cols x rows of the flagship region mosaic
TILE_GRID = 16       # tiles per side of the flagship grid
MOSAIC_RES = 7       # Morton resolution of the flagship join


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def job_ids(records: list[dict], role: str) -> list[int]:
    return [r["i"] for r in records if r["role"] == role]


class Workload:
    name = ""
    min_warm = 3          # warm jobs a run completes even past its time budget
    flagship = False      # runs the flagship join (traced runs add its scaling test)
    max_jobs = 200
    probe_jobs: tuple[dict, ...] = ()   # job arguments of a traced run's extra jobs

    def __init__(self, cache_root: str, seed: int, run_dir: str):
        self.cache_root, self.seed, self.run_dir = cache_root, seed, run_dir
        self.input_rows = 0
        self.gen_s = 0.0
        self.gen_cached = True

    def _input(self, name: str, build, **params) -> tuple[str, dict]:
        path, meta, _, hit = gen.cached(self.cache_root, name, params, self.seed, build)
        self.gen_s += meta["gen_s"]
        self.gen_cached &= hit
        return path, meta

    @staticmethod
    def spark_totals(log, tracer, jobs: list[int]) -> dict:
        """Median over the given benchmark jobs of Spark's task totals."""
        per = []
        for j in jobs:
            sj = log.jobs_of(tracer.span_ids("", job=j))
            per.append((log.task_sum(sj, "cpu_ns") / 1e9, log.task_sum(sj, "gc_ms") / 1e3,
                        log.task_sum(sj, "shuffle_write"), log.task_sum(sj, "spill")))
        cols = list(zip(*per)) or [[], [], [], []]
        return {"spark.executor_cpu_s": median(cols[0]), "spark.gc_s": median(cols[1]),
                "spark.shuffle_write_bytes": median(cols[2]), "spark.spill_bytes": median(cols[3])}


def flagship_pairs(spark, images):
    """The flagship spatial join: image footprints -> broadcast pip_join
    against the region mosaic (index cached by token after the first call)."""
    from mapshaper_spark import layers as L
    from mapshaper_spark.operators import spatial as S
    pts = L.footprint_cols(images.select("image_id", "phash")).select("image_id", "lon", "lat")
    polys = L.region_mosaic_rings_local(spark, *MOSAIC, gen.BBOX)
    return S.pip_join(pts, "lon", "lat", polys, "rid", bbox=gen.BBOX, res=MOSAIC_RES,
                      cache_token="perfbench-mosaic")


def tile_counts(pairs):
    """Per-(region, tile) counts of the flagship job's pairs."""
    from pyspark.sql import functions as F

    from mapshaper_spark.operators import grid as G
    tr, tc = G.grid_rc(F.col("lon"), F.col("lat"), TILE_GRID, TILE_GRID, gen.BBOX)
    return pairs.groupBy(F.col("rid"), tr.alias("tr"), tc.alias("tc")) \
        .agg(F.count(F.lit(1)).alias("n_images"))


def count_problems(got: dict, want: dict, what: str) -> list[str]:
    if got == want:
        return []
    diff = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    k = diff[0]
    return [f"{what}: {len(diff)} keys differ, e.g. {k}: got {got.get(k)} want {want.get(k)}"]


def candidate_rows(points, polys, key: str, res: int, broadcast: bool) -> int:
    """Candidate (point, polygon) pairs of a pip_join, counted through the
    spatial module's own candidate builder."""
    from mapshaper_spark.operators import spatial as S
    return S.pip_candidates(points, "lon", "lat", polys, key, gen.BBOX, res,
                            broadcast_polys=broadcast).count()


class Curate(Workload):
    """The checkpointed curation pipeline over an image+caption parquet. A
    job is one StageRunner run into a fresh checkpoint root with the stages
    stats (PNG/PPM decode) and tiles (the flagship broadcast join + tile
    counts over a footprint catalog). Traced runs add two jobs of the other
    stages: text metrics, phash near-duplicates and parcels (a skewed point
    catalog joined to a parcel layer above pip_join's broadcast limit: the
    salted shuffle path with its per-query cover build); the first warms
    their code paths, the second is measured. The source tables are
    immutable inputs, so they are read directly rather than snapshotted
    again."""
    name = "curate"
    images = 2000
    footprints = 500_000        # rows of the flagship join's image catalog
    parcel_grid = 40            # 1600 parcels ...
    broadcast_limit = 1000      # ... above this limit: the shuffle path
    catalog_points = 40_000
    hot_share = 0.3
    parcel_res = 8
    stages = ("stats", "tiles")
    probe_jobs = ({"stages": ("text", "near_dups", "parcels")},) * 2
    flagship = True

    def prepare(self):
        self.dir, meta = self._input("curate", gen.build_images, n=self.images)
        self.pdir, _ = self._input("parcels", gen.build_parcels, grid=self.parcel_grid,
                                   points=self.catalog_points, hot_share=self.hot_share,
                                   res=self.parcel_res)
        self.tdir, _ = self._input("tiles", gen.build_images_index, n=self.footprints)
        self.input_rows = meta["rows"]
        self.images_path = os.path.join(self.dir, "images")
        t = np.load(os.path.join(self.dir, "truth.npz"))
        self.truth = {k: t[k] for k in t.files}
        with open(os.path.join(self.dir, "captions.json")) as f:
            self.n_distinct_captions = len(set(json.load(f)))
        self.want_pairs = oracles.phash_pairs(self.truth["phash"])
        self.want_tiles = oracles.region_tile_counts(np.load(os.path.join(self.tdir, "phash.npy")))
        p = np.load(os.path.join(self.pdir, "truth.npz"))
        self.want_parcels = oracles.parcel_counts(p["lon"], p["lat"], p["xe"], p["ye"])

    def register(self, spark):
        self.catalog = spark.read.parquet(os.path.join(self.pdir, "points"))
        self.parcels = spark.read.parquet(os.path.join(self.pdir, "parcels"))
        self.images_df = spark.read.parquet(self.images_path)
        self.footprints_df = spark.read.parquet(os.path.join(self.tdir, "images"))

    def job(self, spark, tracer, i, stages=None):
        from pyspark.sql import functions as F

        from mapshaper_spark.operators import dedup as DD
        from mapshaper_spark.operators import images as IM
        from mapshaper_spark.operators import spatial as S
        from mapshaper_spark.operators import text as TX
        from mapshaper_spark.plans.checkpoint import Stage, StageRunner

        images = self.images_df
        stages = stages or self.stages

        # each stage function opens the phase its snapshot write runs in
        def st_stats(spark, deps):
            tracer.phase("checkpoint.stats")
            return IM.decode_stats(images)

        def st_text(spark, deps):
            tracer.phase("checkpoint.text")
            docs = images.select("image_id", F.col("caption").alias("text"))
            return TX.text_metrics(docs, "text").select(
                "image_id", "n_tokens", "quality", "lang_pred", "fingerprint")

        def st_near_dups(spark, deps):
            tracer.phase("checkpoint.near_dups")
            return DD.phash_hamming_pairs(images.select("image_id", "phash"),
                                          "image_id", "phash", max_hamming=6, bands=4, bits=40)

        def st_tiles(spark, deps):
            tracer.phase("checkpoint.tiles")
            with tracer.span("spatial.pip_join.tiles"):
                pairs = flagship_pairs(spark, self.footprints_df)
            return tile_counts(pairs)

        def st_parcels(spark, deps):
            tracer.phase("checkpoint.parcels")
            with tracer.span("spatial.pip_join.parcels"):
                pairs = S.pip_join(self.catalog, "lon", "lat", self.parcels, "pid",
                                   bbox=gen.BBOX, res=self.parcel_res,
                                   broadcast_limit=self.broadcast_limit)
            return pairs.groupBy("pid").agg(F.count(F.lit(1)).alias("n_points"))

        fns = {"stats": st_stats, "text": st_text, "near_dups": st_near_dups,
               "tiles": st_tiles, "parcels": st_parcels}
        root = os.path.join(self.run_dir, "ckpt", f"job{i}")
        t0 = time.perf_counter()
        with tracer.span("checkpoint.run"):
            done = StageRunner(spark, root).run([
                Stage(n, fns[n], partition_by=("rid",) if n == "tiles" else ())
                for n in stages])
        return {"root": root, "stages": stages, "done": done, "wall": time.perf_counter() - t0}

    def check(self, out):
        import pyarrow.dataset as ds

        from mapshaper_spark.operators.images import synth_pixels
        done, stages, problems = out["done"], out["stages"], []
        missing = [st for st in stages if st not in done]
        if missing:
            return [f"stages missing: {missing}"]

        def read(st):
            return ds.dataset(done[st]["path"], format="parquet",
                              partitioning="hive").to_table().to_pandas()

        for st in {"stats", "text"} & set(stages):
            if done[st]["rows"] != self.images:
                problems.append(f"{st}: {done[st]['rows']} rows, want {self.images}")
        if "stats" in stages:
            for row in read("stats").itertuples():
                i = int(row.image_id[3:])
                w, h = int(self.truth["w"][i]), int(self.truth["h"][i])
                if (row.dec_w, row.dec_h) != (w, h) or \
                        (row.mean_r, row.mean_g, row.mean_b) != oracles.image_means(synth_pixels(i, w, h)):
                    problems.append(f"stats of {row.image_id} differ from synth_pixels")
                    break
        if "text" in stages:
            fingerprints = read("text")["fingerprint"].nunique()
            if fingerprints != self.n_distinct_captions:
                problems.append(f"text: {fingerprints} fingerprints, want {self.n_distinct_captions}")
        if "near_dups" in stages and done["near_dups"]["rows"] != self.want_pairs:
            problems.append(f"near_dups: {done['near_dups']['rows']} pairs, want {self.want_pairs}")
        if "tiles" in stages:
            problems += count_problems(
                {(int(r.rid), int(r.tr), int(r.tc)): int(r.n_images) for r in read("tiles").itertuples()},
                self.want_tiles, "tile counts")
        if "parcels" in stages:
            problems += count_problems(
                {int(r.pid): int(r.n_points) for r in read("parcels").itertuples()},
                self.want_parcels, "parcel counts")
        out["bytes_written"] = sum(os.path.getsize(os.path.join(d, f))
                                   for d, _, fs in os.walk(out["root"]) for f in fs)
        shutil.rmtree(out["root"], ignore_errors=True)
        return problems

    def probe(self, spark, tracer, results):
        from mapshaper_spark import layers as L
        from mapshaper_spark.operators import spatial as S
        pts = L.footprint_cols(self.footprints_df.select("image_id", "phash")) \
            .select("image_id", "lon", "lat")
        mosaic = L.region_mosaic_rings_local(spark, *MOSAIC, gen.BBOX)
        tiles_cand = candidate_rows(pts, mosaic, "rid", MOSAIC_RES, True)
        parcels_cand = candidate_rows(self.catalog, self.parcels, "pid", self.parcel_res, False)
        cover = {bool(r["full"]): int(r["count"]) for r in
                 S.polygon_cell_cover(self.parcels, "pid", gen.BBOX, self.parcel_res)
                 .groupBy("full").count().collect()}
        cover_rows = sum(cover.values())
        return {
            "spatial.tiles.candidate_rows": tiles_cand,
            "spatial.tiles.verify_kept_ratio": sum(self.want_tiles.values()) / tiles_cand,
            "spatial.parcels.candidate_rows": parcels_cand,
            "spatial.parcels.verify_kept_ratio": sum(self.want_parcels.values()) / parcels_cand,
            "spatial.cover_rows": cover_rows,
            "spatial.cover_boundary_share": cover.get(False, 0) / cover_rows,
        }

    def layers(self, log, tracer, records, results):
        out = {}
        warm = job_ids(records, "warm")
        probed = job_ids(records, "probe")[-1:]  # the probe stages, warm
        first = tracer.durations("spatial.pip_join.tiles")
        out["spatial.index_build_s"] = first[0] if first else 0.0
        for st in self.stages + self.probe_jobs[0]["stages"]:
            out[f"checkpoint.write_s.{st}"] = median(
                results[j]["done"][st]["wall_s"] for j in (warm if st in self.stages else probed))
        out["checkpoint.bytes_written"] = median(results[j]["bytes_written"] for j in warm)
        # the eager Spark work inside the pip_join call (the polygon-side
        # count) is the spatial layer's, not the checkpoint's
        out["checkpoint.overhead_s"] = median(
            results[j]["wall"] - sum(results[j]["done"][st]["wall_s"] for st in self.stages)
            - sum(s["end"] - s["start"] for s in tracer.spans
                  if s["job"] == j and s["name"].startswith("spatial.pip_join."))
            for j in warm)

        def jobs(name, j):
            return log.jobs_of(tracer.span_ids(name, job=j))

        out["images.decode_task_s"] = median(
            log.task_sum(jobs("checkpoint.stats", j), "run_ms", "MapInPandas") / 1e3 for j in warm)
        per = {k: [] for k in ("text", "cand", "cover", "probe", "hot", "repl", "skew")}
        for j in probed:
            per["text"].append(log.task_sum(jobs("checkpoint.text", j), "run_ms") / 1e3)
            per["cand"].append(sum(log.metric(n, "number of output rows")
                                   for n, _ in log.plan_nodes(jobs("checkpoint.near_dups", j))
                                   if n["nodeName"].endswith("Join")))
            write = jobs("checkpoint.parcels", j)
            stages = log.stages_of(write)
            per["cover"].append(sum(st.get("wall_ms", 0) for st in stages
                                    if "MapInPandas" in st["scopes"]) / 1e3)
            per["probe"].append(log.job_wall_s(
                [sj for sj in jobs("spatial.pip_join.parcels", j)
                 if any(n["nodeName"] == "Sample" for n, _ in log.plan_nodes([sj]))]))
            nodes = log.plan_nodes(write)
            # the broadcast hot-cell set: sampled counts, not the cover side
            per["hot"].append(max([log.metric(n, "number of output rows") for n, below in nodes
                                   if n["nodeName"] == "BroadcastExchange" and "Sample" in below
                                   and "MapInPandas" not in below], default=0.0))
            exploded = sum(log.metric(n, "number of output rows") for n, _ in nodes
                           if n["nodeName"] == "Generate" and "__salt" in n.get("simpleString", ""))
            cover = sum(log.metric(n, "number of output rows") for n, _ in nodes
                        if n["nodeName"] == "MapInPandas")
            per["repl"].append(exploded - cover)
            times = [t["run_ms"] for st in stages
                     if any(sc.endswith("Join") for sc in st["scopes"]) for t in st["tasks"]]
            per["skew"].append(max(times) / max(median(times), 1.0) if times else 0.0)
        out["text.metrics_task_s"] = median(per["text"])
        out["dedup.phash_candidate_pairs"] = median(per["cand"])
        out["dedup.phash_kept_ratio"] = (self.want_pairs / median(per["cand"])
                                         if median(per["cand"]) else 0.0)
        out["spatial.cover_build_s"] = median(per["cover"])
        out["spatial.salt.probe_s"] = median(per["probe"])
        out["spatial.salt.hot_cells"] = median(per["hot"])
        out["spatial.salt.replicated_rows"] = median(per["repl"])
        out["spatial.join_task_skew"] = median(per["skew"])
        out.update(self.spark_totals(log, tracer, warm))
        return out


class CliEdit(Workload):
    """mapshaper requests over a seeded county GeoJSON with jagged shared
    borders. A job is one simplify request: import the file (shared-arc
    topology), simplify, write GeoJSON. Simplify runs without its
    post-simplify intersection repair, which alone costs more Spark jobs
    than the rest of the request. Traced runs add two dissolve requests
    (the first warms the dissolve path, the second is measured) and one
    TopoJSON export for the arc count."""
    name = "cli_edit"
    grid = 4
    vertices = 8
    requests = {
        "simplify": "-i {src} -simplify 10% no-repair -o {out}",
        "dissolve": "-i {src} -dissolve state sum-fields=pop -o {out}",
    }
    probe_jobs = ({"kind": "dissolve"},) * 2

    def prepare(self):
        self.dir, meta = self._input("counties", gen.build_counties, grid=self.grid,
                                     vertices=self.vertices)
        self.input_rows = meta["rows"]
        self.src = os.path.join(self.dir, "counties.json")
        with open(self.src) as f:
            self.features = json.load(f)["features"]
        self.out_dir = os.path.join(self.run_dir, "cli")
        os.makedirs(self.out_dir, exist_ok=True)
        states: dict[str, int] = {}
        for f in self.features:
            p = f["properties"]
            states[p["state"]] = states.get(p["state"], 0) + p["pop"]
        self.want_states = states
        self.area = sum(oracles.polygon_area(f["geometry"]) for f in self.features)
        self.vertices_in = sum(oracles.vertex_count(f["geometry"]) for f in self.features)

    def register(self, spark):
        """Nothing to register: each request's -i reads the input file."""

    def job(self, spark, tracer, i, kind="simplify"):
        """One request, as cli.run_commands runs it for a single-file -i:
        parse, then dispatch every command against one fresh Catalog; the
        benchmark dispatches them itself to give each command a span."""
        from mapshaper_spark import cli
        path = os.path.join(self.out_dir, f"job{i}-{kind}.json")
        with tracer.span(f"cli.request.{kind}"):
            cat = cli.Catalog(spark)
            for c in cli.parse_commands(self.requests[kind].format(src=self.src, out=path)):
                with tracer.span(f"cli.cmd.{c.name}"):
                    cli.dispatch_command(cat, c)
        return {"kind": kind, "path": path}

    def check(self, out):
        with open(out["path"]) as f:
            doc = json.load(f)
        problems = oracles.check_feature_collection(doc)
        feats = doc.get("features", []) if isinstance(doc, dict) else []
        if out["kind"] == "simplify":
            if len(feats) != len(self.features):
                problems.append(f"simplify: {len(feats)} features, want {len(self.features)}")
            out["vertices"] = sum(oracles.vertex_count(f["geometry"]) for f in feats)
            if not 0 < out["vertices"] < self.vertices_in:
                problems.append(f"simplify kept {out['vertices']} of {self.vertices_in} vertices")
        else:
            got = {f["properties"]["state"]: f["properties"]["pop"] for f in feats}
            if got != self.want_states:
                problems.append(f"dissolve groups {got} != {self.want_states}")
            area = sum(oracles.polygon_area(f["geometry"]) for f in feats)
            if abs(area - self.area) > 1e-6 * self.area:
                problems.append(f"dissolve area {area} != {self.area}")
        return problems

    def probe(self, spark, tracer, results):
        from mapshaper_spark import cli
        out = os.path.join(self.out_dir, "topology.json")
        cli.run_commands(spark, f"-i {self.src} -o format=topojson {out}")
        with open(out) as f:
            arcs = len(json.load(f)["arcs"])
        kept = [r["vertices"] for r in results if r and "vertices" in r]
        return {"topology.arcs": arcs,
                "simplify.vertex_kept_ratio": median(kept) / self.vertices_in}

    def layers(self, log, tracer, records, results):
        warm = job_ids(records, "warm")
        probed = job_ids(records, "probe")[-1:]  # the dissolve request, warm

        def span_s(name, jobs):
            return median(s["end"] - s["start"] for s in tracer.spans
                          if s["name"] == f"cli.cmd.{name}" and s["job"] in jobs)

        out = {f"cli.cmd.{name}_s": span_s(name, warm) for name in ("i", "simplify", "o")}
        out["cli.cmd.dissolve_s"] = span_s("dissolve", probed)
        out["cli.spark_jobs_per_request"] = median(
            len(log.jobs_of(tracer.span_ids("", job=j))) for j in warm)
        out.update(self.spark_totals(log, tracer, warm))
        return out


WORKLOADS = {w.name: w for w in (Curate, CliEdit)}
