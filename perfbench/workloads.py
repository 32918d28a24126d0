"""The three ways a user drives the find/compare/curate pipeline.

Each workload generates its inputs from a seed (``generate``, pyarrow
only), loads its static side and warms up (``setup``), and then repeats
one timed ``op``, a call into a public function of the package,
followed by a timed ``readback`` of the sink. ``reset`` runs untimed
between ops; ``traced_op`` composes the same public calls as ``op``
into spans for the per-layer run.

* ``batch_match``: one ``run_find_compare`` with an append sink against
  a catalog folder above the dense-path cap, with about 1/6 far probes.
  The fuzzy join (banded two-phase join plus the poor-tier escalation)
  does most of the work; the sink does little.
* ``stream_match``: one streamed ``run_find_compare`` draining a burst
  of small probe files, one file per micro-batch, against a catalog
  below the dense cap. The per-epoch fixed cost (planning, jobs,
  candidate re-prep) does most of the work.
* ``catalog_upsert``: one ``upsert_sink`` of a pre-curated batch into a
  sink seeded with many rows, about half of whose keys the batch
  already holds. Every upsert rewrites the whole sink; the fuzzy join
  does none of the op's work.
"""

from __future__ import annotations

import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from . import inputs as gen
from . import oracle

THRESHOLD = 3
KEY = "sku"
LOOKUP_KEYS = 8


def _data_files(path: str) -> list[str]:
    out = []
    for dirpath, _, files in os.walk(path):
        out += [os.path.join(dirpath, f) for f in files if not f.startswith(("_", "."))]
    return sorted(out)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _data_files(path))


def _materialize(df):
    """Split a lazy layer off its consumers: cache it and compute it once
    with a ``noop`` write, so the next layer's span holds only its own work."""
    df = df.persist()
    df.write.format("noop").mode("overwrite").save()
    return df


def _traced_cands(T, spark, cfg):
    """``read_folder`` and the candidate prep of ``run_find_compare``."""
    from pyspark.sql import functions as F

    from data_finder_comparator_spark.operators.curation import with_row_ids
    from data_finder_comparator_spark.pipeline import read_folder

    with T.span("read_folder", "sources"):
        data = _materialize(read_folder(spark, cfg.data_folder))
    with T.span("with_row_ids[catalog]", "curation"):
        return _materialize(
            with_row_ids(data, [cfg.data_key_col, *data.columns]).select(
                F.col("row_id").alias("cand_id"), F.col(cfg.data_key_col).alias("cand")
            )
        )


def _traced_curate(T, search, cands, cfg, cache_registry=None):
    """The public calls of one find/compare/curate pass, in the order
    ``run_find_compare`` makes them, each layer in its own span.
    Returns (curated, tiers)."""
    from pyspark.sql import functions as F

    from data_finder_comparator_spark.operators.curation import (
        apply_curation,
        curation_decisions,
        with_row_ids,
    )
    from data_finder_comparator_spark.operators.fuzzy_join import tiered_fuzzy_join

    with T.span("with_row_ids[search]", "curation"):
        search_ids = _materialize(with_row_ids(search, [cfg.search_key_col, *search.columns]))
        probes = search_ids.select(
            F.col("row_id").alias("probe_id"), F.col(cfg.search_key_col).alias("probe")
        )
    with T.span("tiered_fuzzy_join", "fuzzy_join.build"):
        tiers = tiered_fuzzy_join(
            probes,
            cands,
            threshold=cfg.threshold,
            strategy=cfg.strategy,
            cache_registry=cache_registry,
        )
    with T.span("tiers", "fuzzy_join.action"):
        tiers = _materialize(tiers)
    with T.span("curation_decisions+apply_curation", "curation"):
        decisions = curation_decisions(tiers)
        curated = _materialize(
            apply_curation(search_ids, decisions, "row_id", cfg.search_key_col).drop("row_id")
        )
    return curated, tiers


class Workload:
    name = ""
    catalog_rows = 0
    catalog_files = 4
    warmup_ops = 2
    readbacks = 3  # per timed op, so that even a run of 2 ops has 6 samples
    unique_keys = False  # a keyed sink must never hold a key twice

    def __init__(self, work: str, seed: int):
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.catalog = os.path.join(self.inputs, "catalog")
        self.sink = os.path.join(work, "sink")
        self.rng = random.Random(f"{self.name}:{seed}")
        self.op_count = 0

    # -- inputs -------------------------------------------------------
    def generate(self) -> None:
        self.catalog_keys = gen.distinct_keys(self.rng, self.catalog_rows)
        for i, t in enumerate(gen.catalog_tables(self.rng, self.catalog_keys, self.catalog_files)):
            gen.write_parquet(t, os.path.join(self.catalog, f"part-{i}.parquet"))
        self.taken = {gen.norm(k) for k in self.catalog_keys}
        self.generate_probes()

    def generate_probes(self) -> None:
        raise NotImplementedError

    def probe_files(self) -> list[str]:
        return _data_files(self.probes)

    def catalog_files_list(self) -> list[str]:
        return _data_files(self.catalog)

    # -- ops ----------------------------------------------------------
    def cfg(self, **kw):
        from data_finder_comparator_spark.config import EngineConfig

        return EngineConfig(
            search_path=self.probes,
            data_folder=self.catalog,
            search_key_col=KEY,
            data_key_col=KEY,
            threshold=THRESHOLD,
            **kw,
        )

    def setup(self, spark) -> None:
        pass

    def reset(self, spark) -> None:
        """Untimed, before every op: no cached frames, no sink left over."""
        spark.catalog.clearCache()
        for suffix in ("", ".staging", ".old"):
            shutil.rmtree(self.sink + suffix, ignore_errors=True)
        shutil.rmtree(os.path.join(self.work, "ckpt"), ignore_errors=True)

    def op(self, spark) -> int:
        """The timed call; returns the number of items it completed."""
        raise NotImplementedError

    def readback(self, spark) -> tuple[int, int]:
        """A full count plus a point lookup of fixed keys."""
        from pyspark.sql import functions as F

        df = spark.read.parquet(self.sink)
        n = df.count()
        hits = len(df.filter(F.col(KEY).isin(self.lookup)).collect())
        return n, hits

    def batch_bytes(self) -> int:
        """On-disk size of the batch one op takes in."""
        return sum(os.path.getsize(f) for f in self.probe_files())

    def current_batch(self) -> int:
        return 0

    def expected_digests(self, expected: dict[str, oracle.Row]) -> dict[int, str]:
        """batch -> content hash the sink must have after one op."""
        return {0: oracle.rows_digest(list(expected.values()))}


class BatchMatch(Workload):
    name = "batch_match"
    catalog_rows = 4200  # above the dense-path cap of 4096 candidates
    probe_rows = 120
    mix = {"same": 1, "case": 1, "d1": 1, "d2": 1, "d3": 1, "far": 1}

    def generate_probes(self) -> None:
        self.probes = os.path.join(self.inputs, "probes")
        t = gen.probe_rows(self.rng, self.catalog_keys, self.probe_rows, self.mix, "p", self.taken)
        gen.write_parquet(t, os.path.join(self.probes, "probes.parquet"))
        self.lookup = self.rng.sample(t.column(KEY).to_pylist(), LOOKUP_KEYS)

    def op(self, spark) -> int:
        from data_finder_comparator_spark.pipeline import run_find_compare

        run_find_compare(spark, self.cfg(output_path=self.sink))
        return self.probe_rows

    def traced_op(self, spark, T) -> list:
        from data_finder_comparator_spark.operators.curation import append_sink

        cfg = self.cfg(output_path=self.sink)
        cands = _traced_cands(T, spark, cfg)
        with T.span("read.parquet[search]", "sources"):
            search = _materialize(spark.read.parquet(cfg.search_path))
        curated, tiers = _traced_curate(T, search, cands, cfg)
        with T.span("append_sink", "sink.write"):
            append_sink(curated, cfg.output_path)
        return [tiers]


class StreamMatch(BatchMatch):
    name = "stream_match"
    catalog_rows = 2000  # below the dense-path cap
    files = 2
    rows_per_file = 32

    def generate_probes(self) -> None:
        self.probes = os.path.join(self.inputs, "probes")
        keys = []
        for f in range(self.files):
            t = gen.probe_rows(
                self.rng, self.catalog_keys, self.rows_per_file, self.mix, f"f{f}-", self.taken
            )
            gen.write_parquet(t, os.path.join(self.probes, f"probes-{f:03d}.parquet"))
            keys += t.column(KEY).to_pylist()
        self.lookup = self.rng.sample(keys, LOOKUP_KEYS)

    def op(self, spark) -> int:
        from data_finder_comparator_spark.pipeline import run_find_compare

        run_find_compare(spark, self.cfg(output_path=self.sink, streaming=True))
        return self.files * self.rows_per_file

    def traced_op(self, spark, T) -> list:
        from data_finder_comparator_spark.operators.curation import append_sink

        cfg = self.cfg(output_path=self.sink, streaming=True)
        cands = _traced_cands(T, spark, cfg)
        with T.span("read.parquet[schema]", "sources"):
            schema = spark.read.parquet(cfg.search_path).schema
        all_tiers = []

        def run_batch(batch_df, epoch_id: int) -> None:
            reg: list = []
            with T.span(f"batch {epoch_id}", "stream.batch"):
                curated, tiers = _traced_curate(T, batch_df, cands, cfg, cache_registry=reg)
                with T.span("append_sink", "sink.write"):
                    append_sink(curated, cfg.output_path)
                all_tiers.append(tiers)
                for cached in reg:
                    cached.unpersist()

        with T.span("availableNow drain", "stream"):
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(cfg.search_path)
            )
            q = stream.writeStream.foreachBatch(run_batch).trigger(availableNow=True).start()
            try:
                q.awaitTermination()
            finally:
                q.stop()
        return all_tiers


class CatalogUpsert(Workload):
    name = "catalog_upsert"
    catalog_rows = 1000
    batches = 4
    batch_rows = 250
    seed_rows = 100_000
    seed_files = 4
    readbacks = 1
    unique_keys = True
    # same + d1 land on keys the sink already holds; case + far are new
    mix = {"same": 1, "d1": 1, "case": 1, "far": 1}

    def generate_probes(self) -> None:
        self.probes = os.path.join(self.inputs, "probes")
        tables = [
            gen.probe_rows(self.rng, self.catalog_keys, self.batch_rows, self.mix, f"b{b}-", self.taken)
            for b in range(self.batches)
        ]
        # distinct sources and distinct edited/far keys give every probe
        # of a batch its own curated key: a keyed upsert of a batch that
        # held one key twice would have no defined winner
        gen.write_parquet(pa.concat_tables(tables), os.path.join(self.probes, "probes.parquet"))
        filler = gen.distinct_keys(self.rng, self.seed_rows - self.catalog_rows, self.taken)
        keys = self.catalog_keys + filler
        self.rng.shuffle(keys)
        seed = pa.table(
            {
                KEY: pa.array(keys, pa.string()),
                "qty": pa.array([self.rng.randint(1, 50) for _ in keys], pa.int32()),
                "tag": pa.array([f"s{i}" for i in range(len(keys))], pa.string()),
            },
            schema=gen.PROBE_SCHEMA,
        )
        self.seed = os.path.join(self.inputs, "seed_sink")
        step = -(-len(keys) // self.seed_files)
        for i in range(self.seed_files):
            gen.write_parquet(seed.slice(i * step, step), os.path.join(self.seed, f"part-{i}.parquet"))
        self.lookup = self.rng.sample(self.catalog_keys, LOOKUP_KEYS // 2) + self.rng.sample(
            filler, LOOKUP_KEYS // 2
        )

    def batch_path(self, b: int) -> str:
        return os.path.join(self.work, "batches", f"b{b}")

    def setup(self, spark) -> None:
        """Curate every batch once with the pipeline (no sink), then keep
        each batch as its own parquet file for the upsert ops."""
        from data_finder_comparator_spark.pipeline import run_find_compare

        staged = os.path.join(self.work, "curated")
        run_find_compare(spark, self.cfg()).write.mode("overwrite").parquet(staged)
        curated = pq.read_table(staged)
        tags = curated.column("tag").to_pylist()
        for b in range(self.batches):
            mask = pa.array([t.startswith(f"b{b}-") for t in tags])
            gen.write_parquet(curated.filter(mask), os.path.join(self.batch_path(b), "part-0.parquet"))

    def current_batch(self) -> int:
        return self.op_count % self.batches

    def expected_digests(self, expected: dict[str, oracle.Row]) -> dict[int, str]:
        seed = oracle.read_rows(self.seed)
        return {
            b: oracle.rows_digest(
                oracle.upserted(seed, [r for t, r in expected.items() if t.startswith(f"b{b}-")])
            )
            for b in range(self.batches)
        }

    def reset(self, spark) -> None:
        super().reset(spark)
        shutil.copytree(self.seed, self.sink)

    def op(self, spark) -> int:
        from data_finder_comparator_spark.operators.curation import upsert_sink

        batch = spark.read.parquet(self.batch_path(self.current_batch()))
        upsert_sink(batch, self.sink, KEY)
        return self.batch_rows

    def traced_op(self, spark, T) -> list:
        from data_finder_comparator_spark.operators.curation import upsert_sink

        with T.span("read.parquet[batch]", "sources"):
            batch = _materialize(spark.read.parquet(self.batch_path(self.current_batch())))
        with T.span("upsert_sink", "sink.write"):
            upsert_sink(batch, self.sink, KEY)
        return []

    def batch_bytes(self) -> int:
        return dir_bytes(self.batch_path(self.current_batch()))


WORKLOADS = {w.name: w for w in (BatchMatch, StreamMatch, CatalogUpsert)}
