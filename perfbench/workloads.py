"""The benchmark workloads.

Each workload is a closed loop with one client: the next op starts when
the previous one returns. A workload has
  * setup()   — generate its seeded inputs and open them (repeated; the
                median is `setup_s`);
  * warmup()  — untimed ops covering every op template;
  * next_op() — the next op of a fixed, seeded rotation;
  * check()   — untimed comparison of recorded outputs with ground truth.

Why these two: `ingest` is the write path, where the processors' Python
stages, sampling, the ~160-column index projection and the Parquet write
do the work. `queries` never runs the processors: the registry's headline
queries exercise `io.read_table`, `queries`, the minhash/similarity
operators and the vectors Arrow boundary, and the index reads exercise
`plans.solr_query`, `store` and per-op cost on the Spark driver (py4j, Catalyst over
160 columns, job scheduling) on an index built once with the ingest path.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np

import gen

TODAY = dt.date(2026, 1, 1)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the Parquet data files under `path`."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


class NullTracer:
    """The untraced stand-in: every hook is a pass-through."""

    class _Null:
        def __enter__(self):
            return None

        def __exit__(self, *exc):
            return False

    _null = _Null()

    def op(self, kind):
        return self._null

    def layer(self, name, group=True, action=False):
        return self._null

    def count(self, name, value):
        pass

    def action(self, layer, df, fn, prefix=None):
        return fn(df)


# ---------------------------------------------------------------- ingest


class Ingest:
    """Publish a data resource: load_csv -> run_pipeline (with dimension
    tables) -> build_index -> write_occurrence_store, one resource per op."""

    name = "ingest"
    RECORDS = 2000          # per resource
    # the first publish in a session is cold (~3x a steady one); it runs
    # untimed. A second warm-up publish would bring the next one from
    # ~1.2x to steady state, but costs more run time than the budget has
    WARMUP_OPS = 1
    RESOURCES = WARMUP_OPS + 2  # + one timed and one traced publish
    N_TAXA = 3000

    def __init__(self, spark, work: str, seed: int):
        import biocache_store_spark.pipeline  # noqa: F401 - keep imports out of setup_s

        self.spark, self.work, self.seed = spark, work, seed
        self._next = self.WARMUP_OPS
        self.written: list[dict] = []

    def setup(self) -> None:
        from biocache_store_spark.pipeline import Dimensions

        shutil.rmtree(os.path.join(self.work, "in"), ignore_errors=True)
        universe = gen.Universe(self.seed, n_taxa=self.N_TAXA)
        self.resources = [
            gen.write_occurrences(
                universe, i, self.RECORDS,
                os.path.join(self.work, "in", f"{gen.resource_uid(i)}.csv"),
            )
            for i in range(self.RESOURCES)
        ]
        paths = gen.write_dimensions(universe, self.RESOURCES, os.path.join(self.work, "in", "dims"))
        # attribution and both sampling layers. Name matching (taxa) and
        # sensitivity (sensitive species, with cl22 designated as the state
        # layer) are left out: with them a publish costs ~2.3x as much, more
        # than the run budget can carry next to a warm-up publish
        self.dims = Dimensions(
            data_resources=self.spark.read.parquet(paths["data_resources"]),
            cl_layers=self.spark.read.parquet(paths["cl_layers"]),
            el_layers=self.spark.read.parquet(paths["el_layers"]),
        )

    def _publish(self, res: dict, tracer) -> int:
        from biocache_store_spark.exports.exporters import write_occurrence_store
        from biocache_store_spark.operators.index_projection import build_index
        from biocache_store_spark.pipeline import run_pipeline
        from biocache_store_spark.sources.csv_loader import load_csv

        out = os.path.join(self.work, "store", res["uid"])
        with tracer.layer("sources.build"):
            raw = load_csv(self.spark, res["path"], res["uid"], ["occurrenceID"])
        with tracer.layer("processors.build"):
            processed = run_pipeline(raw, self.dims, today=TODAY)
        with tracer.layer("index_projection.build"):
            index = build_index(processed)
        tracer.action(
            "exports.write", index,
            lambda df: write_occurrence_store(df, out, partition_by=("data_resource_uid",)),
            prefix="index_projection",
        )
        nbytes, nfiles = dir_bytes(out)
        tracer.count("exports.bytes_written", nbytes)
        tracer.count("exports.files_written", nfiles)
        self.written.append({**res, "out": out, "bytes": nbytes})
        return res["records"]

    def warmup(self) -> None:
        """Untimed publishes of the warm-up resources."""
        for res in self.resources[:self.WARMUP_OPS]:
            self._publish(res, NullTracer())

    def next_op(self):
        if self._next >= len(self.resources):
            raise RuntimeError("ingest: out of generated resources; raise RESOURCES")
        res = self.resources[self._next]
        self._next += 1
        return "publish", lambda tracer: self._publish(res, tracer)

    def after_traced_op(self, tracer) -> None:
        """Untimed per-op count: distinct points the sampling layer sees."""
        from biocache_store_spark.operators.sampling import distinct_points
        from biocache_store_spark.sources.csv_loader import load_csv

        res = self.written[-1]
        raw = load_csv(self.spark, res["path"], res["uid"], ["occurrenceID"])
        tracer.count("sampling.distinct_points", distinct_points(raw).count())

    def storage_bytes_per_record(self) -> float:
        """Index store bytes written per record, over the timed resources."""
        timed = self.written[self.WARMUP_OPS:]
        return sum(w["bytes"] for w in timed) / sum(w["records"] for w in timed)

    def check(self) -> tuple[int, list[str]]:
        from pyspark.sql import functions as F

        problems = []
        for w in self.written:
            idx = self.spark.read.parquet(w["out"])
            got = {
                r["b"]: r["n"]
                for r in idx.groupBy(F.col("basis_of_record").alias("b")).count()
                .withColumnRenamed("count", "n").collect()
            }
            n = sum(got.values())
            if n != w["records"]:
                problems.append(f"{w['uid']}: {n} rows indexed, {w['records']} generated")
            if got != w["basis_of_record"]:
                problems.append(f"{w['uid']}: basis_of_record facet {got} != {w['basis_of_record']}")
        return len(self.written), problems


# ----------------------------------------------------------------- queries


class IndexReads:
    """Portal/API reads over one index built with the ingest path: a fixed
    rotation of search, facet, record, spatial and download ops with
    seeded parameters. Every op's result is recorded and compared with
    DuckDB over the same index Parquet after the timed phase."""

    RESOURCES = 1
    RECORDS = 1500          # per resource
    WARMUP_ROTATIONS = 1
    TEMPLATES = ("search", "facet", "record", "spatial", "search", "facet", "record", "download")
    PAGE = 100
    FIELDS = ["id", "row_key", "data_resource_uid", "basis_of_record", "taxon_name",
              "state", "year", "latitude", "longitude"]

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.rng = np.random.default_rng([seed, 10])
        self.i = 0
        self.results: dict[tuple, object] = {}

    def generate(self) -> None:
        shutil.rmtree(os.path.join(self.work, "in"), ignore_errors=True)
        universe = gen.Universe(self.seed)
        self.inputs = [
            gen.write_occurrences(
                universe, i, self.RECORDS,
                os.path.join(self.work, "in", f"{gen.resource_uid(i)}.csv"),
            )
            for i in range(self.RESOURCES)
        ]

    def build(self) -> None:
        """The index, through the ingest path without dimension tables."""
        from biocache_store_spark.exports.exporters import write_occurrence_store
        from biocache_store_spark.operators.index_projection import build_index
        from biocache_store_spark.pipeline import run_pipeline
        from biocache_store_spark.sources.csv_loader import load_csv

        res = self.inputs
        raw = None
        for r in res:
            one = load_csv(self.spark, r["path"], r["uid"], ["occurrenceID"])
            raw = one if raw is None else raw.unionByName(one)
        self.path = os.path.join(self.work, "index")
        write_occurrence_store(
            build_index(run_pipeline(raw, today=TODAY)), self.path,
            partition_by=("data_resource_uid",),
        )
        self.index = self.spark.read.parquet(self.path)
        self.records = sum(r["records"] for r in res)
        self.uids = [r["uid"] for r in res]
        self.occ_ids = [(r["uid"], i) for r in res for i in range(0, r["records"], 97)]

    def bytes_per_record(self) -> float:
        return dir_bytes(self.path)[0] / self.records

    def _params(self, kind: str) -> tuple:
        rng = self.rng
        bor = ["HumanObservation", "PreservedSpecimen", "MachineObservation", "FossilSpecimen"]
        states = [s for s, _ in gen._STATES]
        if kind in ("search", "download"):
            y0 = int(rng.integers(1950, 2015))
            return (kind, bor[int(rng.integers(len(bor)))], states[int(rng.integers(len(states)))],
                    y0, y0 + int(rng.integers(3, 12)))
        if kind == "facet":
            field = ["basis_of_record", "state", "taxon_name", "year"][int(rng.integers(4))]
            return (kind, field, self.uids[int(rng.integers(len(self.uids)))])
        if kind == "record":
            uid, i = self.occ_ids[int(rng.integers(len(self.occ_ids)))]
            return (kind, f"{uid}|urn:occ:{uid}:{i}")
        lon0 = float(np.round(rng.uniform(gen.LON_MIN, gen.LON_MAX - 2), 2))
        lat0 = float(np.round(rng.uniform(gen.LAT_MIN, gen.LAT_MAX - 2), 2))
        # a triangle, so the predicate's ray-cast has slanted edges
        wkt = (f"POLYGON(({lon0} {lat0}, {lon0 + 2} {lat0}, {lon0 + 1} {lat0 + 2}, "
               f"{lon0} {lat0}))")
        return (kind, wkt)

    def _run(self, params: tuple, tracer):
        from pyspark.sql import functions as F

        from biocache_store_spark.exports.exporters import export_csv
        from biocache_store_spark.operators.index_projection import facet_counts
        from biocache_store_spark.plans.solr_query import translate, wkt_predicate
        from biocache_store_spark.store import get_by_row_key

        kind = params[0]
        idx = self.index
        if kind in ("search", "download"):
            _, bor, state, y0, y1 = params
            with tracer.layer("solr_query.translate"):
                q = translate(f'basis_of_record:{bor} AND state:"{state}"')
                fq = translate(f"year:[{y0} TO {y1}]")
            with tracer.layer("query.build"):
                df = idx.filter(q).filter(fq).select(*self.FIELDS)
                if kind == "search":
                    df = df.orderBy("id").limit(self.PAGE)
            if kind == "search":
                return tracer.action("query.exec", df, lambda d: [tuple(r) for r in d.collect()])
            out = os.path.join(self.work, "downloads", f"d{self.i}")
            tracer.action("query.exec", df, lambda d: export_csv(d, self.FIELDS, out))
            n = 0
            for f in os.listdir(out):
                if f.startswith("part-"):
                    with open(os.path.join(out, f)) as fh:
                        n += sum(1 for _ in fh) - 1  # minus the header
            shutil.rmtree(out)
            return n
        if kind == "facet":
            _, field, uid = params
            with tracer.layer("query.build"):
                df = facet_counts(idx.filter(F.col("data_resource_uid") == uid), field)
            return tracer.action("query.exec", df, lambda d: sorted(
                (None if r[0] is None else str(r[0]), r[1]) for r in d.collect()))
        if kind == "record":
            with tracer.layer("query.build"):
                df = get_by_row_key(idx, params[1], key_col="row_key").select(*self.FIELDS)
            rows = tracer.action("query.exec", df, lambda d: sorted(tuple(r) for r in d.collect()))
            tracer.count("store.results", len(rows))
            tracer.count("store.ops", 1)
            return rows
        with tracer.layer("solr_query.translate"):
            pred = wkt_predicate(params[1], lat_col="latitude", lon_col="longitude")
        with tracer.layer("query.build"):
            df = idx.filter(pred).select("id").orderBy("id").limit(self.PAGE)
        rows = tracer.action("query.exec", df, lambda d: [r[0] for r in d.collect()])
        tracer.count("store.results", len(rows))
        tracer.count("store.ops", 1)
        return rows

    def _op(self, params: tuple, tracer) -> int:
        self.results[params] = self._run(params, tracer)
        self.i += 1
        return 1

    def warmup(self) -> None:
        for _ in range(self.WARMUP_ROTATIONS * len(self.TEMPLATES)):
            self.next_op(self.TEMPLATES[self.i % len(self.TEMPLATES)])[1](NullTracer())

    def next_op(self, kind: str):
        params = self._params(kind)
        return kind, lambda tracer: self._op(params, tracer)

    def check(self) -> tuple[int, list[str]]:
        import duckdb

        from biocache_store_spark.plans.solr_query import wkt_predicate_sql

        con = duckdb.connect()
        problems = []
        try:
            con.execute(
                "CREATE VIEW idx AS SELECT * FROM read_parquet("
                f"'{self.path}/**/*.parquet', hive_partitioning = true)"
            )
            cols = ", ".join(self.FIELDS)
            for params, got in self.results.items():
                kind = params[0]
                if kind in ("search", "download"):
                    _, bor, state, y0, y1 = params
                    where = (f"basis_of_record = '{bor}' AND state = '{state}' "
                             f"AND year >= '{y0}' AND year <= '{y1}'")
                    if kind == "search":
                        want = [tuple(r) for r in con.execute(
                            f"SELECT {cols} FROM idx WHERE {where} ORDER BY id LIMIT {self.PAGE}"
                        ).fetchall()]
                    else:
                        want = con.execute(f"SELECT count(*) FROM idx WHERE {where}").fetchone()[0]
                elif kind == "facet":
                    _, field, uid = params
                    want = sorted(
                        (None if v is None else str(v), n) for v, n in con.execute(
                            f"SELECT {field}, count(*) FROM idx WHERE data_resource_uid = '{uid}' "
                            f"AND {field} IS NOT NULL GROUP BY 1"
                        ).fetchall()
                    )
                elif kind == "record":
                    want = sorted(tuple(r) for r in con.execute(
                        f"SELECT {cols} FROM idx WHERE row_key = ?", [params[1]]
                    ).fetchall())
                else:
                    pred = wkt_predicate_sql(params[1], lat_col="latitude", lon_col="longitude")
                    want = [r[0] for r in con.execute(
                        f"SELECT id FROM idx WHERE {pred} ORDER BY id LIMIT {self.PAGE}"
                    ).fetchall()]
                if got != want:
                    problems.append(f"{params}: spark {str(got)[:200]} != duckdb {str(want)[:200]}")
        finally:
            con.close()
        return len(self.results), problems




class Registry:
    """The 13 bench=True registry queries over seeded TPC-H-shaped tables,
    each forced with the noop sink; one op is one query."""

    SF = 0.01

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        from biocache_store_spark.queries import load_all

        self.queries = {n: q for n, q in sorted(load_all().items()) if q.bench}
        self.problems: list[str] | None = None

    def generate(self) -> None:
        self.data = os.path.join(self.work, "tables")
        shutil.rmtree(self.data, ignore_errors=True)
        gen.write_relational(self.seed, self.SF, self.data)

    def warmup(self) -> None:
        """One untimed pass that is also the output check: every query
        collected and compared with its DuckDB oracle."""
        from oracle_harness import compare, duckdb_conn

        self.problems = []
        con = duckdb_conn(self.data)
        try:
            for name, q in self.queries.items():
                df = q.spark_fn(self.spark, self.data)
                if q.oracle is None:
                    df.write.mode("overwrite").format("noop").save()
                    continue
                diffs = compare(df, con.execute(q.oracle).df())
                self.problems += [f"{name}: {d}" for d in diffs]
        finally:
            con.close()

    def _op(self, name: str, tracer) -> int:
        q = self.queries[name]
        with tracer.layer("queries.build"):
            df = q.spark_fn(self.spark, self.data)
        tracer.action(
            "queries.exec", df, lambda d: d.write.mode("overwrite").format("noop").save()
        )
        return 1

    def next_op(self, name: str):
        return name, lambda tracer: self._op(name, tracer)

    def check(self) -> tuple[int, list[str]]:
        return len(self.queries), list(self.problems or [])


class Queries:
    """Reads that never run the processors: one pass is two rounds of the 13
    registry queries, each followed by one rotation of the index-read
    templates. The timed phase runs whole passes, so every run times the
    same op mix; two rounds let the medians ride out single slow ops."""

    name = "queries"
    ROUNDS = 2

    def __init__(self, spark, work: str, seed: int):
        self.registry = Registry(spark, work, seed)
        self.reads = IndexReads(spark, work, seed)
        self.rotation = self.ROUNDS * (
            [(self.registry, n) for n in self.registry.queries]
            + [(self.reads, t) for t in IndexReads.TEMPLATES]
        )
        self.i = 0
        self.warmup_parts: dict[str, float] = {}

    def setup(self) -> None:
        self.registry.generate()
        self.reads.generate()

    def warmup(self) -> None:
        """One registry pass that is also its output check, then the index
        build (cheaper once the registry has started the Python workers),
        then an untimed rotation of the index templates."""
        import time

        for step in (self.registry.warmup, self.reads.build, self.reads.warmup):
            t = time.perf_counter()
            step()
            self.warmup_parts[step.__qualname__] = time.perf_counter() - t

    def next_op(self):
        part, kind = self.rotation[self.i % len(self.rotation)]
        self.i += 1
        return part.next_op(kind)

    def pass_complete(self) -> bool:
        return self.i % len(self.rotation) == 0

    def storage_bytes_per_record(self) -> float:
        """Bytes per record of the index the reads run on."""
        return self.reads.bytes_per_record()

    def check(self) -> tuple[int, list[str]]:
        n1, p1 = self.registry.check()
        n2, p2 = self.reads.check()
        return n1 + n2, p1 + p2


WORKLOADS = {w.name: w for w in (Ingest, Queries)}
