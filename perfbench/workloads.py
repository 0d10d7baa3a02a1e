"""The benchmark workloads, ``points`` and ``pages``, and the ``dedup``
layers that ``pages``' traced run traces on a corpus of their own.

Each workload has four phases, driven by ``run.py``:

* ``generate()``: seeded inputs and their truth, in the driver, before any
  timing (input generation is not set-up);
* ``setup(spark)``: reference-data load and a warm pass (timed as set-up);
* ``measure(seconds)``: an untimed warm-up, then the untraced timed loop,
  a fixed number of repeats; returns the end-to-end figures and records
  every operation's check in ``attempted``/``failed``;
* ``trace(tracer)``: an untraced warm-up pass, one traced pass that calls
  each layer on the previous layer's persisted output inside its own span,
  and an untraced reference pass; returns the per-layer figures that are
  not span statistics.

Only public library functions are called.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import checks, gen

FIXTURES = Path(__file__).resolve().parent.parent / "fixtures"
PREPARED = FIXTURES / "prepared"


def median(xs) -> float:
    xs = [x for x in xs if x is not None]  # None: the operation raised
    if not xs:
        raise RuntimeError("every timed operation failed")
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are too few samples."""
    xs = sorted(xs)
    k = len(xs) - 11
    if k < 0:
        return xs[-1], 100.0
    return xs[k], 100.0 * (k + 1) / len(xs)


def passes(seconds: float, nominal_s: float, floor: int) -> int:
    """How many times to repeat an operation of about ``nominal_s`` seconds
    to fill ``seconds``. Fixed by the arguments, not by the clock, so every
    run of a workload does the same work and its medians compare."""
    return max(floor, round(seconds / nominal_s))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def read_parquet_dir(path) -> pd.DataFrame:
    return pq.read_table(str(path)).to_pandas()


def write_parquet_files(pdf: pd.DataFrame, path: Path, n_files: int) -> None:
    """``pdf`` as ``n_files`` parquet files, so a scan has that many splits."""
    path.mkdir(parents=True, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        pq.write_table(pa.Table.from_pandas(pdf.iloc[part], preserve_index=False),
                       path / f"part-{i:04d}.parquet")


def interior_frac(lat, lon, prep) -> float:
    """Share of points whose cell is an interior cover cell of ``prep``
    (assigned without a point-in-polygon test)."""
    from geocode_spark.cells import cell_of

    if not len(lat):
        return 0.0
    inner = prep.cover.loc[prep.cover["interior"], "cell"].to_numpy()
    return float(np.isin(cell_of(lat, lon, prep.res), inner).mean())


def kernel_costs(lat, lon, prep) -> dict:
    """Driver-side cost of the cell, point-in-polygon and metre-distance
    kernels on a sample of a workload's points against ``prep``'s polygons,
    in ns per point (per point and polygon for the polygon kernels)."""
    from geocode_spark import cells, geometry

    lat, lon = lat[:200_000], lon[:200_000]
    t0 = time.perf_counter()
    cells.cell_of(lat, lon, prep.res)
    cell_ns = (time.perf_counter() - t0) * 1e9 / len(lat)
    polys = list(prep.geoms.values())
    n_pip, n_dist = min(len(lat), 20_000), min(len(lat), 500)
    t0 = time.perf_counter()
    for xs, ys, offs, _ in polys:
        geometry.points_in_polygon(lon[:n_pip], lat[:n_pip], xs, ys, offs)
    pip_ns = (time.perf_counter() - t0) * 1e9 / (n_pip * len(polys))
    t0 = time.perf_counter()
    for xs, ys, offs, _ in polys:
        geometry.dist_to_polygon_m(lon[:n_dist], lat[:n_dist], xs, ys, offs)
    dist_ns = (time.perf_counter() - t0) * 1e9 / (n_dist * len(polys))
    return {"cells.cell_of_ns_per_pt": cell_ns,
            "geometry.pip_ns_per_pt": pip_ns,
            "geometry.dist_m_ns_per_pt": dist_ns}


class Workload:
    name = ""
    unit = ""          # what throughput_per_s counts
    latency_op = ""    # what latency_p50_s times

    def __init__(self, seed: int, work: Path, cpus: int, scale: float):
        self.seed = seed
        self.work = work
        self.cpus = cpus
        self.scale = scale
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.shares: dict = {}

    def record(self, errs: list[str]) -> None:
        """Count one checked operation and keep its failure messages."""
        self.attempted += 1
        self.failed += bool(errs)
        self.failures.extend(errs)

    def attempt(self, op, *args):
        """Run one timed operation; one that raises counts as a failed
        operation and returns None, and the run goes on."""
        try:
            return op(*args)
        except Exception as e:  # counted, reported, and the run continues
            traceback.print_exc()
            self.record([f"{op.__name__} raised {type(e).__name__}: {e}"])
            return None

    def scaled(self, n: int, floor: int) -> int:
        return max(int(n * self.scale), floor)


# ---------------------------------------------------------------- points

LOOKUP_SETS = ["complex", "dno", "gsp", "gsp_20181031", "gsp_20220314",
               "gsp_20250109", "llsoa", "llsoa_2011", "nuts_l0", "nuts_l1",
               "nuts_l2", "nuts_l3"]
MAX_DISTANCE_M = 30_000.0
BULK_POINTS = 1_500_000
LOOKUP_POINTS = 1000
# set-up's warm pass: a reverse geocode of this many points against each
# prepared set the workload uses (starts the Python workers, broadcasts and
# indexes the sets); an untimed first pass of each measured loop then takes
# the rest of the JIT warm-up
WARM_POINTS = 200


class Points(Workload):
    """Bulk reverse geocode with a 30 km fallback over 1.5M points on the
    64-polygon, 400-vertex ``complex`` set, then a closed loop of one
    client sending 1k-point lookups round-robin over 12 prepared sets, more
    than the library's broadcast (8) and index (4) caches hold."""

    name = "points"
    unit = "points/s"
    latency_op = "one 1k-point lookup request"

    def generate(self):
        from geocode_spark.regions import load_prepared

        cplx = load_prepared("complex", PREPARED)
        self.n = self.scaled(BULK_POINTS, 5_000)
        self.pts = gen.make_points(cplx.geoms, self.n, self.seed)
        write_parquet_files(self.pts[["row_id", "latitude", "longitude"]],
                            self.work / "points-src", 2 * self.cpus)
        rng = np.random.default_rng(self.seed + 1)
        self.sample_ids = np.sort(rng.choice(self.n, min(3000, self.n),
                                             replace=False))
        s = self.pts.iloc[self.sample_ids]
        self.expected = gen.brute_force_assign(
            cplx.geoms, cplx.seq, s.latitude, s.longitude, MAX_DISTANCE_M)
        self.expected_direct = gen.brute_force_assign(
            cplx.geoms, cplx.seq, s.latitude, s.longitude)
        direct_hit = ~pd.isna(self.expected_direct)
        fallback_hit = ~pd.isna(self.expected)
        self.shares = {
            "inside": float(direct_hit.mean()),
            "near_miss": float((fallback_hit & ~direct_hit).mean()),
            "beyond_range": float((~fallback_hit).mean()),
            "sample": int(len(s)),
        }
        self.lookups = []  # (request, brute-force answer) per prepared set
        for k, name in enumerate(LOOKUP_SETS):
            prep = load_prepared(name, PREPARED)
            payload = gen.make_lookup_points(prep.geoms, LOOKUP_POINTS,
                                             self.seed * 100 + k)
            want = gen.brute_force_assign(prep.geoms, prep.seq,
                                          payload.latitude, payload.longitude)
            self.lookups.append((payload, want))

    def setup(self, spark):
        from geocode_spark.operators.reverse_geocode import reverse_geocode
        from geocode_spark.regions import load_prepared

        self.spark = spark
        t0 = time.perf_counter()
        self.cplx = load_prepared("complex", PREPARED)
        self.preps = [load_prepared(name, PREPARED) for name in LOOKUP_SETS]
        self.load_s = time.perf_counter() - t0
        self.cover_rows = len(self.cplx.cover)
        warm = spark.createDataFrame(self.pts.iloc[:WARM_POINTS][
            ["row_id", "latitude", "longitude"]])
        noop(reverse_geocode(warm, self.cplx, max_distance=MAX_DISTANCE_M,
                             distance_unit="m", output_cols=["row_id"]))

    def _points_df(self):
        if getattr(self, "points_df", None) is None:
            df = self.spark.read.parquet(str(self.work / "points-src"))
            self.points_df = df.repartition(2 * self.cpus).persist()
            self.points_df.count()
        return self.points_df

    def _bulk(self, out: Path, fallback: bool = True) -> float:
        from geocode_spark.operators.reverse_geocode import reverse_geocode

        pts = self._points_df()
        t0 = time.perf_counter()
        kw = ({"max_distance": MAX_DISTANCE_M, "distance_unit": "m"}
              if fallback else {})
        res = reverse_geocode(pts, self.cplx, output_cols=["row_id"], **kw)
        res.write.mode("overwrite").parquet(str(out))
        return time.perf_counter() - t0

    def _checked_bulk(self, i) -> float:
        out = self.work / f"bulk-{i}"
        dt = self._bulk(out)
        self._check_bulk(out)
        shutil.rmtree(out)
        return dt

    def _check_bulk(self, out: Path, fallback: bool = True) -> pd.DataFrame:
        got = read_parquet_dir(out)
        self.record(checks.check_assignment(
            got, self.n, self.sample_ids,
            self.expected if fallback else self.expected_direct))
        return got

    def _lookup(self, i: int) -> float:
        from geocode_spark.operators.reverse_geocode import reverse_geocode

        k = i % len(LOOKUP_SETS)
        payload, want = self.lookups[k]
        t0 = time.perf_counter()
        req = self.spark.createDataFrame(payload)
        rows = reverse_geocode(req, self.preps[k],
                               output_cols=["row_id"]).collect()
        dt = time.perf_counter() - t0
        got = pd.DataFrame(rows, columns=["row_id", "region_id"])
        self.record(checks.check_assignment(
            got, LOOKUP_POINTS, np.arange(LOOKUP_POINTS), want))
        return dt

    def _sample_hits(self):
        """Coordinates of the sampled points with a direct hit."""
        s = self.pts.iloc[self.sample_ids]
        hit = ~pd.isna(self.expected_direct)
        return s.latitude.to_numpy()[hit], s.longitude.to_numpy()[hit]

    def measure(self, seconds: float) -> dict:
        self._points_df()
        self.attempt(self._checked_bulk, "warm")  # untimed: JIT warm-up
        bulk = [self.attempt(self._checked_bulk, i)
                for i in range(passes(seconds / 2, 5.0, 2))]
        rounds = passes(seconds / 2, 0.45 * len(LOOKUP_SETS), 2)
        lookups = [self.attempt(self._lookup, i)
                   for i in range(rounds * len(LOOKUP_SETS))]
        tail_s, pct = tail([x for x in lookups if x is not None])
        return {
            "throughput_per_s": self.n / median(bulk),
            "latency_p50_s": median(lookups),
            "detail": {
                "points_per_s": self.n / median(bulk),
                "bulk_runs_s": bulk,
                "lookup_p50_s": median(lookups),
                "lookup_tail_s": tail_s,
                "lookup_tail_percentile": pct,
                "lookup_requests": len(lookups),
                "lookup_runs_s": lookups,
            },
        }

    def trace(self, tracer) -> dict:
        self._points_df()
        self._checked_bulk("warm")  # as in the measured loop
        with tracer.span("points"):
            with tracer.span("reverse_geocode.direct"):
                self._bulk(self.work / "direct", fallback=False)
            with tracer.span("reverse_geocode.fallback"):
                traced = self._bulk(self.work / "fallback")
            with tracer.span("kernels"):
                kern = kernel_costs(self.pts.latitude.to_numpy(),
                                    self.pts.longitude.to_numpy(), self.cplx)
            for i in range(2 * len(LOOKUP_SETS)):
                with tracer.span("lookup", request_id=i):
                    self._lookup(i)
        untraced = self._bulk(self.work / "bulk-untraced")
        shutil.rmtree(self.work / "bulk-untraced")
        direct = self._check_bulk(self.work / "direct", fallback=False)
        fallback = self._check_bulk(self.work / "fallback")
        hits_direct = int(direct["region_id"].notna().sum())
        hits_fallback = int(fallback["region_id"].notna().sum())
        shutil.rmtree(self.work / "direct")
        shutil.rmtree(self.work / "fallback")
        return {
            "regions.cover_rows": self.cover_rows,
            "reverse_geocode.hit_frac": hits_direct / self.n,
            "reverse_geocode.knn_points": hits_fallback - hits_direct,
            "reverse_geocode.interior_frac": interior_frac(
                *self._sample_hits(), self.cplx),
            "points": self.n,
            "overhead": traced / untraced - 1.0,
            **kern,
        }

# ----------------------------------------------------------------- pages

N_BUCKETS = 8
RESUME_BUCKETS = 2  # manifests deleted before each resume (a 25% share)
RESUMES = 2  # resumes of each timed job's output
PAGES = 24_000
# an untimed page job over this many other pages, read from parquet, runs
# before the timed ones: the first job in a process runs about 30% slower
WARM_PAGES = 2_000


class Pages(Workload):
    """The resumable page job (``read_pages`` pinned to the Iceberg
    snapshot, then ``run_with_lineage(geocode_documents)``) over 24k pages
    into an empty directory, then resumes after a share of bucket
    manifests is lost. About 5 s of a job is per-job cost whatever the
    corpus size; per-page work is about half of a 24k-page job."""

    name = "pages"
    unit = "docs/s"
    latency_op = "one resume after 2 of 8 bucket manifests are deleted"

    def generate(self):
        self.n = self.scaled(PAGES, 200)
        cpo_raw = pd.read_parquet(FIXTURES / "cpo_raw.parquet")
        pages, self.truth = gen.make_pages(cpo_raw, self.n, self.seed)
        self.shares = self.truth["shares"]
        write_parquet_files(pages, self.work / "pages-src", 2 * self.cpus)
        warm, self.warm_truth = gen.make_pages(
            cpo_raw, self.scaled(WARM_PAGES, 20), self.seed + 1)
        write_parquet_files(warm, self.work / "pages-warm", 2 * self.cpus)
        rng = np.random.default_rng(self.seed + 2)
        self.deleted = sorted(int(b) for b in
                              rng.choice(N_BUCKETS, RESUME_BUCKETS, replace=False))

    def setup(self, spark):
        from geocode_spark.operators.forward_geocode import prepare_cpo
        from geocode_spark.operators.reverse_geocode import reverse_geocode_multi
        from geocode_spark.regions import load_prepared

        self.spark = spark
        t0 = time.perf_counter()
        self.llsoa = load_prepared("llsoa", PREPARED)
        self.gsp = load_prepared("gsp", PREPARED)
        # the CPO dimension is built once per process, as the page job
        # builds it once per run
        self.cpo = prepare_cpo(spark.read.parquet(
            str(FIXTURES / "cpo_raw.parquet"))).persist()
        self.cpo.count()
        self.load_s = time.perf_counter() - t0
        self.cover_rows = len(self.llsoa.cover) + len(self.gsp.cover)
        warm = spark.createDataFrame(gen.make_lookup_points(
            self.llsoa.geoms, WARM_POINTS, self.seed))
        noop(reverse_geocode_multi(warm, [(self.llsoa, "llsoa"),
                                          (self.gsp, "gsp")]))

    def _table(self) -> str:
        if getattr(self, "table", None) is None:
            from geocode_spark.sources.iceberg import write_iceberg

            self.table = str(self.work / "pages-table")
            write_iceberg(self.spark,
                          self.spark.read.parquet(str(self.work / "pages-src")),
                          self.table)
            os.sync()  # no write-back of the inputs during the timed jobs
        return self.table

    def _transform(self, df):
        from geocode_spark.operators.pipeline import geocode_documents

        return geocode_documents(df, self.cpo, self.llsoa, self.gsp)

    def _pages(self, source: str):
        from geocode_spark.sources.loaders import pages_snapshot_id, read_pages

        sid = pages_snapshot_id(self.spark, source)
        pin = int(sid) if sid else None
        return read_pages(self.spark, source, snapshot_id=pin), sid or "snapshot-0"

    def _job(self, source: str, out: Path, transform=None):
        """The page job: pinned read, lineage-bucketed geocode and write."""
        from geocode_spark.plans.lineage import run_with_lineage

        df, sid = self._pages(source)
        return run_with_lineage(df, str(out), key_col="url",
                                transform=transform or self._transform,
                                n_buckets=N_BUCKETS, snapshot_id=sid,
                                operator_version="1")

    def _finish(self, base_cols, rev):
        """The tail of ``geocode_documents`` after its reverse layer (tile
        id, GSP-group join), applied to the traced run's persisted reverse
        output. The traced output is checked like the untraced one, so a
        drift from the library's pipeline fails the run."""
        import pyspark.sql.functions as F

        from geocode_spark.functions.udfs import cell_udf

        tiled = rev.withColumn("tile_id", F.when(
            F.col("latitude").isNotNull(),
            cell_udf(8)(F.col("latitude"), F.col("longitude"))))
        tiled = tiled.select(*base_cols, "llsoa", "cell_id", "tile_id", "gsp")
        attrs = self.spark.createDataFrame(
            self.gsp.attrs.rename(columns={"GSPs": "gsp",
                                           "GSPGroup": "gsp_group"})
        ).select("region_id", "gsp_group").withColumnRenamed("region_id", "gsp")
        return tiled.join(F.broadcast(attrs), "gsp", "left")

    def _lose_manifests(self, out: Path) -> None:
        for b in self.deleted:
            (out / "_lineage" / f"bucket={b}.json").unlink()

    def _check_full(self, results, out: Path, truth=None) -> pd.DataFrame:
        got = read_parquet_dir(out)
        errs = checks.check_pages(got, truth or self.truth)
        if any(r.skipped for r in results):
            errs.append("a fresh run skipped buckets")
        self.record(errs)
        return got

    def _check_resume(self, results, out: Path, full: pd.DataFrame) -> None:
        recomputed = [r.bucket for r in results if not r.skipped]
        self.record(checks.check_resume(recomputed, self.deleted, full,
                                        read_parquet_dir(out)))

    def _warm_up(self) -> None:
        """The untimed, checked page job over the warm-up pages."""
        out = self.work / "out-warm"
        self._check_full(self._job(str(self.work / "pages-warm"), out), out,
                         self.warm_truth)
        shutil.rmtree(out)

    def measure(self, seconds: float) -> dict:
        table = self._table()
        self.attempt(self._warm_up)
        runs = [self.attempt(self._full_and_resume, table, i)
                for i in range(passes(seconds, 28.0, 1))]
        full_s = [r and r[0] for r in runs]
        resume_s = [x for r in runs if r for x in r[1]]
        return {
            "throughput_per_s": self.n / median(full_s),
            "latency_p50_s": median(resume_s),
            "detail": {"pages_docs_per_s": self.n / median(full_s),
                       "resume_s": median(resume_s),
                       "full_runs_s": full_s, "resume_runs_s": resume_s},
        }

    def _full_and_resume(self, table: str, i) -> tuple[float, list]:
        """A checked full job into an empty directory, then ``RESUMES``
        checked resumes, each after losing the same manifests:
        (full seconds, resume seconds)."""
        out = self.work / f"out-{i}"
        t0 = time.perf_counter()
        results = self._job(table, out)
        full_s = time.perf_counter() - t0
        full = self._check_full(results, out)
        resume_s = []
        for _ in range(RESUMES):
            self._lose_manifests(out)
            t0 = time.perf_counter()
            results = self._job(table, out)
            resume_s.append(time.perf_counter() - t0)
            self._check_resume(results, out, full)
        shutil.rmtree(out)
        return full_s, resume_s

    def _untraced(self, table: str) -> float:
        """One checked full job into a fresh directory; its seconds."""
        out = self.work / "out-untraced"
        t0 = time.perf_counter()
        results = self._job(table, out)
        dt = time.perf_counter() - t0
        self._check_full(results, out)
        shutil.rmtree(out)
        return dt

    def trace(self, tracer) -> dict:
        table = self._table()
        self._warm_up()  # as in the measured loop
        traced, extra = self._traced_pass(tracer, table)
        untraced = self._untraced(table)
        # the dedup layers are traced here too, on their own seeded corpus
        self.dedup = Dedup(self.seed, self.work, self.cpus, self.scale)
        self.dedup.generate()
        self.dedup.spark = self.spark
        dedup_traced, dedup_untraced, dedup_extra = self.dedup.trace_parts(tracer)
        self.attempted += self.dedup.attempted
        self.failed += self.dedup.failed
        self.failures += self.dedup.failures
        self.shares["dedup"] = self.dedup.shares
        return {**extra, **dedup_extra,
                "overhead": (traced + dedup_traced)
                / (untraced + dedup_untraced) - 1.0}

    def _traced_pass(self, tracer, table: str) -> tuple[float, dict]:
        from geocode_spark.operators.forward_geocode import forward_geocode
        from geocode_spark.operators.pipeline import extract_postcode_mentions
        from geocode_spark.operators.reverse_geocode import reverse_geocode_multi

        out = self.work / "out-traced"
        persisted = []

        def keep(df):
            # each layer reads the previous layer's persisted output
            df = df.persist()
            persisted.append(df)
            noop(df)
            return df

        with tracer.span("pages") as root:
            with tracer.span("sources.read_pages"):
                pages = keep(self._pages(table)[0])
            with tracer.span("pipeline.extract"):
                mentions = keep(extract_postcode_mentions(pages).select(
                    "url", "warc_ts", "lang", "postcode"))
            with tracer.span("forward_geocode"):
                geo = keep(forward_geocode(mentions, self.cpo, dedup_keys=True))
            with tracer.span("reverse_geocode"):
                rev = keep(reverse_geocode_multi(
                    geo, [(self.llsoa, "llsoa"), (self.gsp, "gsp")],
                    keep_cell=True))
            with tracer.span("pipeline.finish"):
                final = keep(self._finish(geo.columns, rev))
            with tracer.span("lineage.write"):
                # a fresh run hands the transform every bucket, so the
                # persisted pipeline output is exactly what it must write
                results = self._job(table, out, transform=lambda _df: final)
            traced = time.time() - root["start"]
            written = sum(not r.skipped for r in results)
            full = self._check_full(results, out)
            self._lose_manifests(out)
            with tracer.span("lineage.resume"):
                results = self._job(table, out)
            geo = full[full["latitude"].notna()]
            with tracer.span("kernels"):
                kern = kernel_costs(geo["latitude"].to_numpy(),
                                    geo["longitude"].to_numpy(), self.llsoa)
        self._check_resume(results, out, full)
        hit = geo[geo["llsoa"].notna()]
        status = full["match_status"].value_counts()
        in_bytes = sum(f.stat().st_size for f in
                       Path(table, "data").rglob("*.parquet"))
        out_bytes = sum(f.stat().st_size for f in out.rglob("*.parquet"))
        shutil.rmtree(out)
        for df in persisted:
            df.unpersist()
        n_rows = max(len(full), 1)
        return traced, {
            "regions.cover_rows": self.cover_rows,
            "pipeline.mentions_per_doc": len(full) / self.n,
            "forward_geocode.exact_frac": status.get(1, 0) / n_rows,
            "forward_geocode.miss_frac": status.get(0, 0) / n_rows,
            "sources.bytes_read": in_bytes,
            "lineage.bytes_written_per_input_byte": out_bytes / in_bytes,
            "lineage.buckets_written": written,
            "lineage.buckets_skipped": sum(r.skipped for r in results),
            "reverse_geocode.hit_frac": len(hit) / max(len(geo), 1),
            "reverse_geocode.interior_frac": interior_frac(
                hit["latitude"].to_numpy(), hit["longitude"].to_numpy(),
                self.llsoa),
            "points": len(full),
            **kern,
        }


# ----------------------------------------------------------------- dedup

DEDUP_RECOVERY_FLOOR = 0.95


class Dedup(Workload):
    """MinHash-LSH near-duplicate pairs over a corpus with planted
    clusters, then connected components over the pairs: the dedup layers
    that ``Pages.trace`` traces (not a listed workload of its own)."""

    def generate(self):
        self.n = self.scaled(6_000, 300)
        corpus, self.truth = gen.make_dedup_corpus(self.n, self.seed)
        self.shares = self.truth["shares"]
        write_parquet_files(corpus, self.work / "dedup-src", 2 * self.cpus)

    def _corpus(self):
        if getattr(self, "corpus", None) is None:
            self.corpus = self.spark.read.parquet(
                str(self.work / "dedup-src")).persist()
            self.corpus.count()
        return self.corpus

    def _pairs(self, corpus):
        from geocode_spark.operators.dedup import minhash_dedup_pairs

        pairs = minhash_dedup_pairs(corpus, text_col="text",
                                    id_col="doc_id").persist()
        return pairs, pairs.count()

    def _clusters(self, corpus, pairs) -> pd.DataFrame:
        from geocode_spark.operators.dedup import dup_clusters

        return dup_clusters(corpus.select("doc_id"), pairs,
                            id_col="doc_id").toPandas()

    def _pass(self, corpus) -> float:
        """One untraced pairs + clusters pass; its seconds."""
        from geocode_spark.operators.dedup import clear_signature_cache

        clear_signature_cache()
        t0 = time.perf_counter()
        pairs, _ = self._pairs(corpus)
        self._clusters(corpus, pairs)
        dt = time.perf_counter() - t0
        pairs.unpersist()
        return dt

    def _check(self, clusters) -> None:
        errs, self.shares["recovered_share"] = checks.check_clusters(
            clusters, self.n, self.truth["clusters"], DEDUP_RECOVERY_FLOOR)
        self.record(errs)

    def trace_parts(self, tracer) -> tuple[float, float, dict]:
        """Warm-up pass, traced pass, untraced reference pass: returns
        (traced seconds, untraced seconds, per-layer figures)."""
        from geocode_spark.operators.dedup import (clear_signature_cache,
                                                   minhash_signatures)

        corpus = self._corpus()
        self._pass(corpus)  # JIT warm-up
        clear_signature_cache()
        with tracer.span("dedup") as root:
            with tracer.span("dedup.signatures"):
                # the same plan minhash_dedup_pairs persists internally,
                # so the pairs span below reads these cached signatures
                sigs = minhash_signatures(
                    corpus.select("doc_id", "text"), "text", "doc_id",
                    64, 5).select("doc_id", "signature").persist()
                noop(sigs)
            with tracer.span("dedup.pairs"):
                pairs, n_pairs = self._pairs(corpus)
            with tracer.span("dedup.clusters"):
                clusters = self._clusters(corpus, pairs)
            traced = time.time() - root["start"]
        self._check(clusters)
        pairs.unpersist()
        sigs.unpersist()
        untraced = self._pass(corpus)
        return traced, untraced, {"dedup.pairs_per_doc": n_pairs / self.n}


WORKLOADS = {w.name: w for w in (Points, Pages)}
