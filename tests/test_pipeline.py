"""End-to-end workflow test: the reference's main() flow (SURVEY.md
§3.1) run as one composed pipeline over reference-shaped fixtures
(FIXTURES.md A1/A2) — folder union, fuzzy join, keep/replace curation,
sink — including the Replace-as-upsert variant."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_finder_comparator_spark.config import EngineConfig
from data_finder_comparator_spark.pipeline import read_folder, run_find_compare
from tests.conftest import _jobs_launched


def _write_fixtures(spark, tmp_path):
    search = spark.createDataFrame(
        [
            ("CH-S09FTXD-BL/SC", 0.1, 10.0),   # exact after normalization
            ("cold widgetx", 0.2, 20.0),        # unique best -> replace
            ("mmmmmmmmmmmm", 0.3, 30.0),        # poor only -> keep
        ],
        "sku string, discount double, price double",
    )
    search_path = str(tmp_path / "search")
    search.write.parquet(search_path)
    folder = tmp_path / "catalog"
    folder.mkdir()
    spark.createDataFrame(
        [("ch s09 ftxd-blsc", 1.0)], "sku string, stock double"
    ).write.parquet(str(folder / "f0"))
    # second file: overlapping-but-different schema (union-by-name)
    spark.createDataFrame(
        [("cold widget", "EU")], "sku string, region string"
    ).write.parquet(str(folder / "f1"))
    return search_path, str(folder)


def test_run_find_compare_end_to_end(spark, tmp_path):
    search_path, folder = _write_fixtures(spark, tmp_path)
    cfg = EngineConfig(
        search_path=search_path,
        data_folder=folder,
        output_path=str(tmp_path / "out"),
        threshold=3,
    )
    curated = run_find_compare(spark, cfg)
    got = {r.sku: (r.discount, r.price) for r in curated.collect()}
    # exact match kept unchanged; unique best replaced; poor kept
    assert got == {
        "CH-S09FTXD-BL/SC": (0.1, 10.0),
        "cold widget": (0.2, 20.0),
        "mmmmmmmmmmmm": (0.3, 30.0),
    }
    sink = spark.read.parquet(cfg.output_path)
    assert sink.count() == 3

    # second run with upsert: prices change, keys dedupe in the sink
    spark.createDataFrame(
        [("cold widgetx", 0.2, 99.0)], "sku string, discount double, price double"
    ).write.mode("overwrite").parquet(search_path)
    run_find_compare(spark, cfg, upsert=True)
    merged = {r.sku: r.price for r in spark.read.parquet(cfg.output_path).collect()}
    assert merged["cold widget"] == 99.0  # replaced row upserted
    assert merged["CH-S09FTXD-BL/SC"] == 10.0  # untouched rows survive


def test_streaming_mode_and_distances(spark, tmp_path):
    """cfg.streaming=True processes probe files as micro-batches into
    the sink; cfg.output_distances adds the best match distance."""
    search_path, folder = _write_fixtures(spark, tmp_path)
    cfg = EngineConfig(
        search_path=search_path,
        data_folder=folder,
        output_path=str(tmp_path / "stream_out"),
        threshold=3,
        streaming=True,
        output_distances=True,
    )
    out = run_find_compare(spark, cfg)
    rows = {r.sku: r.match_dist for r in out.collect()}
    assert rows["CH-S09FTXD-BL/SC"] == 0  # exact
    assert rows["cold widget"] == 1  # replaced at distance 1
    assert rows["mmmmmmmmmmmm"] is None  # poor only -> no best/exact dist

    # streaming without a sink is a config error
    import pytest as _pytest

    with _pytest.raises(ValueError):
        run_find_compare(
            spark,
            EngineConfig(search_path=search_path, data_folder=folder, streaming=True),
        )


def _write_stream_fixtures(tmp_path, n_files: int = 2, repeat: int = 1):
    """A two-file catalog with drifting schemas and ``n_files`` probe
    files in one folder (the stream drains whole files per micro-batch).
    Each file holds an exact, a unique-best, a tied-best and a
    poor-only probe, each ``repeat`` times; ``src`` names the file, so
    the sink can be split back into files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    folder = tmp_path / "catalog"
    folder.mkdir(parents=True)
    pq.write_table(
        pa.table({
            "sku": ["CH-S09FTXD-BL/SC", "cold widget", "bolt m8x20", "bolt m8x30"],
            "stock": [1.0, 2.0, 3.0, 4.0],
        }),
        str(folder / "f0.parquet"),
    )
    pq.write_table(
        pa.table({
            "sku": ["washer zinc 10", "NUT HEX M6", "nut hex m5"],
            "region": ["EU", "US", "APAC"],
        }),
        str(folder / "f1.parquet"),
    )
    probes = [
        ["ch s09ftxd bl sc", "cold widgetx", "bolt m8x40", "zzzzzzzzzzzz"],
        ["nut-hex-m6", "washer zinc 1", "nut hex m7", "qqqqqqqqqq"],
    ]
    search = tmp_path / "search"
    search.mkdir()
    for i in range(n_files):
        keys = probes[i % 2] * repeat
        pq.write_table(
            pa.table({
                "sku": keys,
                "src": [f"f{i}"] * len(keys),
                "price": [float(10 * i + j) for j in range(len(keys))],
            }),
            str(search / f"probes-{i:03d}.parquet"),
        )
    return str(search), str(folder)


def _cache_entries(spark) -> int:
    """Entries in the session's cache manager (persisted DataFrames,
    materialized or not)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


@pytest.mark.parametrize("path", ["dense", "banded", "large_files"])
def test_streaming_sink_equals_batch_per_file(spark, tmp_path, path):
    """A streamed run's sink equals, file by file, a batch run of each
    probe file: every epoch runs the batch plan over the files it
    takes. ``dense`` pairs every probe key with every catalog key
    (broadcast blocking); ``banded`` blocks the pairs by length band;
    ``large_files`` repeats each probe row 16 times, so the decisions,
    made once per distinct key, fan back out to every row of a file."""
    strategy = "band" if path == "banded" else "broadcast"
    repeat = 16 if path == "large_files" else 1
    search_path, folder = _write_stream_fixtures(tmp_path, repeat=repeat)
    cfg = EngineConfig(
        search_path=search_path,
        data_folder=folder,
        output_path=str(tmp_path / "stream_out"),
        threshold=3,
        strategy=strategy,
        streaming=True,
        output_distances=True,
    )
    sink = run_find_compare(spark, cfg)

    def rows(df):
        return sorted(map(repr, df.select(sorted(df.columns)).collect()))

    for i in range(2):
        batch = run_find_compare(
            spark,
            EngineConfig(
                search_path=f"{search_path}/probes-{i:03d}.parquet",
                data_folder=folder,
                threshold=3,
                strategy=strategy,
                output_distances=True,
            ),
        )
        assert rows(sink.filter(F.col("src") == f"f{i}")) == rows(batch)
    assert sink.count() == 2 * 4 * repeat
    got = {r.sku: r.match_dist for r in sink.collect()}
    assert got["ch s09ftxd bl sc"] == 0  # exact: kept
    assert got["cold widget"] == 1  # unique best: replaced
    assert got["bolt m8x40"] == 1  # tied best: kept
    assert got["zzzzzzzzzzzz"] is None  # poor only: kept, no distance


def test_streaming_releases_prepared_catalog(spark, tmp_path):
    """A streamed run leaves no cache entry behind when the call
    returns, and none when it raises after reading the catalog (here
    a search path that does not exist)."""
    search_path, folder = _write_stream_fixtures(tmp_path)
    cfg = EngineConfig(
        search_path=search_path,
        data_folder=folder,
        output_path=str(tmp_path / "stream_out"),
        streaming=True,
    )
    before = _cache_entries(spark)
    run_find_compare(spark, cfg).count()
    assert _cache_entries(spark) == before
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        run_find_compare(
            spark,
            EngineConfig(
                search_path=str(tmp_path / "missing"),
                data_folder=folder,
                output_path=str(tmp_path / "stream_out2"),
                streaming=True,
            ),
        )
    assert _cache_entries(spark) == before


def test_streaming_config_error_launches_no_job(spark, tmp_path):
    """A streamed run without a sink is refused before any Spark job."""
    search_path, folder = _write_stream_fixtures(tmp_path)

    def call():
        with pytest.raises(ValueError, match="requires output_path"):
            run_find_compare(
                spark,
                EngineConfig(search_path=search_path, data_folder=folder, streaming=True),
            )

    assert _jobs_launched(spark, call) == 0


def test_streaming_merges_probe_schemas_under_merge_schema(spark, tmp_path, monkeypatch):
    """With ``spark.sql.parquet.mergeSchema`` in ``cfg.spark_conf`` the
    stream's probe schema is every probe file's merged, as inference
    merges them: a column only the second file has reaches the sink,
    null on the first file's rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_finder_comparator_spark import pipeline

    search_path, folder = _write_stream_fixtures(tmp_path, n_files=1)
    pq.write_table(
        pa.table({"sku": ["nut-hex-m6"], "src": ["f1"], "price": [1.0], "note": ["new"]}),
        f"{search_path}/probes-001.parquet",
    )
    merge = {"spark.sql.parquet.mergeSchema": "true"}
    schemas = []
    real_curate = pipeline._curate

    def curate(search, *a, **kw):
        schemas.append(search.schema)
        return real_curate(search, *a, **kw)

    monkeypatch.setattr(pipeline, "_curate", curate)
    sink = run_find_compare(
        spark,
        EngineConfig(
            search_path=search_path,
            data_folder=folder,
            output_path=str(tmp_path / "out"),
            streaming=True,
            spark_conf=merge,
        ),
    )
    notes = {r.src: r.note for r in sink.select("src", "note").distinct().collect()}
    assert notes == {"f0": None, "f1": "new"}
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        assert schemas == [spark.read.parquet(search_path).schema]
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")


def test_streaming_leaves_no_checkpoint(spark, tmp_path):
    """With a session-wide checkpoint location set, a streamed run
    leaves nothing under it: the drain checkpoints to its own temporary
    directory and deletes it."""
    search_path, folder = _write_stream_fixtures(tmp_path)
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    for i in range(2):
        run_find_compare(
            spark,
            EngineConfig(
                search_path=search_path,
                data_folder=folder,
                output_path=str(tmp_path / f"stream_out{i}"),
                streaming=True,
                spark_conf={"spark.sql.streaming.checkpointLocation": str(ckpt)},
            ),
        )
    assert list(ckpt.iterdir()) == []


def test_streaming_drains_available_files_in_one_epoch(spark, tmp_path, monkeypatch):
    """An epoch takes every file available, so 5 probe files drain in
    one epoch, and the sink still equals a batch run of each file."""
    from data_finder_comparator_spark import pipeline

    epochs = []
    real_write = pipeline._write_epoch
    monkeypatch.setattr(
        pipeline, "_write_epoch", lambda *a: epochs.append(a[-1]) or real_write(*a)
    )
    search_path, folder = _write_stream_fixtures(tmp_path, n_files=5)
    sink = run_find_compare(
        spark,
        EngineConfig(
            search_path=search_path,
            data_folder=folder,
            output_path=str(tmp_path / "out"),
            threshold=3,
            streaming=True,
            output_distances=True,
        ),
    )
    assert epochs == [0]

    def rows(df):
        return sorted(map(repr, df.select(sorted(df.columns)).collect()))

    for i in range(5):
        batch = run_find_compare(
            spark,
            EngineConfig(
                search_path=f"{search_path}/probes-{i:03d}.parquet",
                data_folder=folder,
                threshold=3,
                output_distances=True,
            ),
        )
        assert rows(sink.filter(F.col("src") == f"f{i}")) == rows(batch)


def test_streaming_epoch_replay_writes_rows_once(spark, tmp_path, monkeypatch):
    """An epoch whose rows reached the sink and which then failed with
    the worker-spawn signature is run again by the drain's one retry,
    from the call's temporary checkpoint. The replay replaces the
    epoch's files, so the sink holds a batch run's rows exactly once,
    and it stays readable as a flat folder by Spark and by pyarrow."""
    import pyarrow.parquet as pq

    from data_finder_comparator_spark import pipeline

    failed = []
    real_write = pipeline._write_epoch

    def write_then_fail(*a):
        real_write(*a)
        if not failed:
            failed.append(a[-1])
            raise RuntimeError("Python worker failed to connect back")

    monkeypatch.setattr(pipeline, "_write_epoch", write_then_fail)
    search_path, folder = _write_stream_fixtures(tmp_path)
    out = str(tmp_path / "stream_out")
    sink = run_find_compare(
        spark,
        EngineConfig(
            search_path=search_path,
            data_folder=folder,
            output_path=out,
            threshold=3,
            streaming=True,
            output_distances=True,
        ),
    )
    assert failed == [0]

    def rows(df):
        return sorted(map(repr, df.select(sorted(df.columns)).collect()))

    n = 0
    for i in range(2):
        batch = run_find_compare(
            spark,
            EngineConfig(
                search_path=f"{search_path}/probes-{i:03d}.parquet",
                data_folder=folder,
                threshold=3,
                output_distances=True,
            ),
        )
        assert rows(sink.filter(F.col("src") == f"f{i}")) == rows(batch)
        n += batch.count()
    assert sink.count() == n
    assert spark.read.parquet(out).count() == n
    assert pq.read_table(out).num_rows == n


# Jobs of one run_find_compare call against a small catalog, by job-id
# range. Catalog, probe and sink schemas come from footers on the
# driver and cost none. A batch call appending to a sink launches 5, and
# a streamed call, whose one epoch runs the same plan, 5 too. Counts do
# not move with host noise.
_BATCH_JOBS = 5
_STREAM_JOBS = 5


def _stream_jobs(spark, tmp_path, n_files: int) -> int:
    search_path, folder = _write_stream_fixtures(tmp_path / f"n{n_files}", n_files)
    cfg = EngineConfig(
        search_path=search_path,
        data_folder=folder,
        output_path=str(tmp_path / f"out{n_files}"),
        streaming=True,
    )
    return _jobs_launched(spark, lambda: run_find_compare(spark, cfg))


def test_streaming_job_count(spark, tmp_path):
    """A 1-file and a 2-file streamed run share one epoch and launch
    the same jobs."""
    counts = [_stream_jobs(spark, tmp_path, n) for n in (1, 2)]
    assert counts == [_STREAM_JOBS] * 2, counts


def test_run_find_compare_job_count(spark, tmp_path):
    """A batch call runs one plan over the distinct probe keys: no
    row numbering, tier table or poor-tier escalation jobs."""
    search_path, folder = _write_stream_fixtures(tmp_path, n_files=2)
    cfg = EngineConfig(
        search_path=search_path, data_folder=folder, output_path=str(tmp_path / "out")
    )
    assert _jobs_launched(spark, lambda: run_find_compare(spark, cfg)) == _BATCH_JOBS


def test_read_folder_launches_no_job(spark, tmp_path):
    """Each catalog file's schema comes from its footer on the driver,
    so reading the folder runs no schema-inference job."""
    _, folder = _write_fixtures(spark, tmp_path)
    assert _jobs_launched(spark, lambda: read_folder(spark, folder)) == 0


def test_read_folder_union_null_fills(spark, tmp_path):
    _, folder = _write_fixtures(spark, tmp_path)
    df = read_folder(spark, folder)
    assert set(df.columns) == {"sku", "stock", "region"}
    rows = {r.sku: (r.stock, r.region) for r in df.collect()}
    assert rows["ch s09 ftxd-blsc"] == (1.0, None)
    assert rows["cold widget"] == (None, "EU")


def test_run_find_compare_xlsx_sink(spark, tmp_path):
    """An .xlsx output_path routes the curated table through the
    vendored workbook writer — the reference's own sink format
    (output.xlsx) — and reads back identical rows."""
    from data_finder_comparator_spark.sources.excel import read_excel

    search_path, folder = _write_fixtures(spark, tmp_path)
    cfg = EngineConfig(
        search_path=search_path,
        data_folder=folder,
        output_path=str(tmp_path / "output.xlsx"),
        threshold=3,
    )
    curated = run_find_compare(spark, cfg)
    back = read_excel(spark, cfg.output_path)
    assert sorted(map(tuple, back.collect()), key=repr) == sorted(
        map(tuple, curated.collect()), key=repr
    )


def test_excel_exact_long_roundtrip_past_2_53(spark, tmp_path):
    """r12 review: read_grid parsed every number as float, silently
    rounding longs at/above 2**53 (IDs off by one). Pure-integer cell
    text now parses as exact int and the column types Long at any
    magnitude."""
    from data_finder_comparator_spark.sources.excel import (
        read_excel,
        write_excel,
    )

    big = 2**53 + 1
    df = spark.createDataFrame(
        [(big, "a"), (big + 2, "b")], "id long, v string"
    )
    p = str(tmp_path / "big.xlsx")
    write_excel(df, p)
    back = read_excel(spark, p)
    assert dict(back.dtypes)["id"] == "bigint"
    assert sorted(r.id for r in back.collect()) == [big, big + 2]


def test_excel_typed_cells_dates_decimals_nonfinite(spark, tmp_path):
    """r12 review: the cell codec crashed with a bare TypeError on
    date/timestamp/Decimal and wrote invalid XML for NaN/Inf. Dates
    and timestamps now serialize as ISO-8601 inline strings, Decimal
    as exact digit strings (both documented, lossless, round-trip as
    strings); non-finite floats refuse loudly."""
    import datetime

    import pytest as _pytest

    from data_finder_comparator_spark.sources.excel import (
        read_excel,
        write_excel,
    )
    from data_finder_comparator_spark.sources.xlsx_lite import write_grid

    df = spark.createDataFrame(
        [
            (
                1,
                datetime.date(2026, 8, 15),
                datetime.datetime(2026, 8, 15, 12, 30, 45),
            )
        ],
        "id long, d date, ts timestamp",
    )
    p = str(tmp_path / "typed.xlsx")
    write_excel(df, p)
    row = read_excel(spark, p).collect()[0]
    assert row.d == "2026-08-15"
    assert row.ts.startswith("2026-08-15 12:30:45")
    import decimal

    p2 = str(tmp_path / "dec.xlsx")
    write_grid(p2, [["x"], [decimal.Decimal("1.23456789012345678901")]])
    got = read_excel(spark, p2).collect()[0].x
    assert got == "1.23456789012345678901"  # exact digits, no float pass
    with _pytest.raises(ValueError, match="non-finite"):
        write_grid(str(tmp_path / "nan.xlsx"), [["x"], [float("nan")]])


def test_excel_folder_read_back_and_scheme_refusal(spark, tmp_path):
    """r12 review: the folder sink's documented read-back path did not
    exist (read_excel_folder now does), and single-slash Hadoop URIs
    ('hdfs:/x') bypassed the '://'-based local-path refusal."""
    import pytest as _pytest

    from data_finder_comparator_spark.sources.excel import (
        read_excel_folder,
        write_excel_folder,
    )

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "id long, v string"
    ).repartition(3)
    folder = str(tmp_path / "xfolder")
    n = write_excel_folder(df, folder)
    assert n >= 1
    back = read_excel_folder(spark, folder)
    assert sorted((r.id, r.v) for r in back.collect()) == [
        (i, f"v{i}") for i in range(20)
    ]
    with _pytest.raises(ValueError, match="local or file:"):
        write_excel_folder(df, "hdfs:/warehouse/export")
    with _pytest.raises(ValueError, match="local or file:"):
        write_excel_folder(df, "s3a://bucket/export")


def test_read_folder_any_mixed_formats(spark, tmp_path):
    """r12 review: fmt='any' used to read EVERY listed file with the
    parquet reader (crash on the first json). It now routes each file
    through its format's reader by extension and unions by name with
    null fill; unknown extensions refuse loudly with the offending
    list."""
    import pytest as _pytest

    from data_finder_comparator_spark.sources.excel import write_excel
    from data_finder_comparator_spark.sources.union import (
        read_folder_union_by_name,
    )

    folder = tmp_path / "mixed"
    folder.mkdir()
    spark.createDataFrame([(1, "p")], "id long, src string").coalesce(
        1
    ).write.mode("overwrite").parquet(str(tmp_path / "pq"))
    import glob
    import shutil

    shutil.copy(
        glob.glob(str(tmp_path / "pq" / "*.parquet"))[0],
        str(folder / "a.parquet"),
    )
    (folder / "b.json").write_text('{"id": 2, "extra": "j"}\n')
    write_excel(
        spark.createDataFrame([(3, "x")], "id long, src string"),
        str(folder / "c.xlsx"),
    )
    got = read_folder_union_by_name(spark, str(folder), fmt="any")
    rows = {r.id: (r.src, r.extra) for r in got.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1] == ("p", None) and rows[2] == (None, "j")
    assert rows[3][0] == "x"
    (folder / "d.csv").write_text("id\n9\n")
    with _pytest.raises(ValueError, match="cannot route"):
        read_folder_union_by_name(spark, str(folder), fmt="any")


def test_excel_big_int_mixed_with_integral_float_types_long():
    """r12 ADVICE #2: a column mixing an exact int at/above 2**53 with
    an INTEGRAL float (e.g. [2**53+1, 3.0]) is losslessly Long-typable
    and used to raise (with an error text blaming 'non-integral
    numbers' that weren't there). Only a genuinely double-only float —
    non-integral, or integral at/above 2**53 — may trigger the
    corruption refusal."""
    from pyspark.sql import types as T

    from data_finder_comparator_spark.sources.excel import (
        _coerce,
        _column_type,
    )

    import pytest

    big = 2**53 + 1
    dt = _column_type([big, 3.0])
    assert isinstance(dt, T.LongType)
    assert [_coerce(v, dt) for v in (big, 3.0)] == [big, 3]
    # a real non-integral float next to a big exact int: still refuses
    with pytest.raises(ValueError, match="non-integral"):
        _column_type([big, 3.5])
    # an integral float at/above 2**53 next to a big exact int: the
    # float itself may already be rounded — refuses too
    with pytest.raises(ValueError, match="2\\*\\*53"):
        _column_type([big, float(2**53 + 4)])
    # without big ints in the mix, doubles remain doubles
    assert isinstance(_column_type([3, 3.5]), T.DoubleType)
