"""Folder ingestion with union-by-name semantics.

The reference builds its candidate table by concatenating every xlsx
file in a folder, aligning frames by column name and null-filling
missing columns (pandas ``concat`` — /root/reference/main.py:690-696,
operator S2/U1 in SURVEY.md §2). The Spark-native equivalents:

* homogeneous schemas → a single multi-file ``spark.read.parquet(dir)``
  scan (partition-parallel, no union nodes in the plan; its schema
  comes from the footers on the driver, so building it runs no job);
* heterogeneous schemas → ``unionByName(allowMissingColumns=True)``
  which is exactly pandas-concat-by-name: permissive UNION ALL,
  null-filling columns a file lacks, duplicate rows preserved.

At scale the homogeneous path matters: a folder of 100k parquet files
is one distributed scan, not 100k driver-side reads.
"""

from __future__ import annotations

import json
from functools import reduce

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def union_by_name(dfs: list[DataFrame]) -> DataFrame:
    """UNION ALL BY NAME over an arbitrary list of frames
    (pandas-concat semantics: align by column name, null-fill missing,
    keep duplicates, no row-identity)."""
    if not dfs:
        raise ValueError("union_by_name requires at least one DataFrame")
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


def hadoop_ls(spark: SparkSession, folder: str, suffix: str | None = None) -> list[str]:
    """Sorted folder listing through the Hadoop FileSystem API — works
    for any scheme Spark can read (file://, hdfs://, s3a://), where
    os.listdir would bind to driver-local paths. Hidden/metadata
    entries (underscore and dot prefixes) are skipped. A ``suffix``
    also matches its codec-compressed shard names (``.json`` accepts
    ``.json.gz``): Spark's text sources decompress transparently, and
    production corpora ship as many small ``.jsonl.gz``/``.csv.gz``
    shards precisely because one gz file is one non-splittable
    partition."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(folder)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    # transparent codec decompression is a TEXT-source feature: a
    # .parquet.gz / .orc.gz is unreadable (gzip wraps the container and
    # breaks footer seeks), so .gz shard names are accepted only for
    # the line-oriented formats
    gz_ok = suffix is not None and suffix.lstrip(".") in ("json", "jsonl", "csv", "txt", "text")
    suffixes = None if suffix is None else ((suffix, f"{suffix}.gz") if gz_ok else (suffix,))
    return sorted(
        st.getPath().toString()
        for st in fs.listStatus(jpath)
        if not st.getPath().getName().startswith(("_", "."))
        and (suffixes is None or st.getPath().getName().endswith(suffixes))
    )


class ParquetFooters:
    """Parquet schemas and row counts read from file footers on the
    driver through the Hadoop FileSystem API, so no Spark job runs.
    A plain ``spark.read.parquet(path)`` runs one schema-inference job
    per call, and at the reference's size (a search sheet against a
    catalog folder) those jobs are most of the time.

    A footer maps to the schema inference would give: Spark's own
    ``ParquetFileFormat.readSchemaFromFooter`` reads it, taking Spark's
    row metadata when a Spark writer left it, else converting the
    parquet types with the session's ``binaryAsString``,
    ``int96AsTimestamp``, ``nanosAsLong`` and NTZ-inference settings.
    The JVM handles are resolved once per instance, and the converter
    takes the session confs current at construction, so make one per
    call."""

    def __init__(self, spark: SparkSession):
        gateway = spark.sparkContext._gateway._gateway_client

        # a JavaClass by name costs no py4j round trip; the attribute
        # walk (spark._jvm.org.apache...) costs one per package segment
        def cls(name: str) -> JavaClass:
            return JavaClass(name, gateway)

        parquet = "org.apache.spark.sql.execution.datasources.parquet."
        sqlconf = spark._jsparkSession.sessionState().conf()
        self.spark = spark
        self.merging = sqlconf.isParquetSchemaMergingEnabled()
        self._case_sensitive = sqlconf.caseSensitiveAnalysis()
        self._conf = spark._jsc.hadoopConfiguration()
        # read options built once: ParquetFileReader.open(file) without
        # them rebuilds them from the Hadoop conf, ~10 ms per footer
        self._options = cls("org.apache.parquet.HadoopReadOptions").builder(self._conf).build()
        self._path = cls("org.apache.hadoop.fs.Path")
        self._input_file = cls("org.apache.parquet.hadoop.util.HadoopInputFile").fromPath
        self._open = cls("org.apache.parquet.hadoop.ParquetFileReader").open
        self._footer = cls("org.apache.parquet.hadoop.Footer")
        self._to_schema = cls(parquet + "ParquetFileFormat").readSchemaFromFooter
        self._converter = cls(parquet + "ParquetToSparkSchemaConverter")(sqlconf)
        self._from_json = cls("org.apache.spark.sql.types.DataType").fromJson

    def files(self, path: str) -> list[str] | None:
        """The data files a parquet read of ``path`` scans, sorted by
        path as Spark's inference sorts them: ``path`` itself when it
        is a file, else every non-hidden file below it. None when
        ``path`` is missing or its layout holds schema no data footer
        has: a partition directory (``k=v``, whose columns inference
        adds) or a summary file (``_metadata``, which non-merging
        inference reads first)."""
        root = self._path(path)
        fs = root.getFileSystem(self._conf)
        if not fs.exists(root):
            return None
        if fs.getFileStatus(root).isFile():
            return [path]
        files, dirs = [], [root]
        while dirs:
            for st in fs.listStatus(dirs.pop()):
                p = st.getPath()
                name = p.getName()
                if name in ("_metadata", "_common_metadata"):
                    return None
                if name.startswith(("_", ".")) or name.endswith("._COPYING_"):
                    continue
                if not st.isDirectory():
                    files.append(p.toString())
                elif "=" in name:
                    return None
                else:
                    dirs.append(p)
        return sorted(files)

    def read(self, files: list[str]) -> list[tuple[StructType, int]]:
        """(schema, row count) of each parquet file's footer."""
        out = []
        for f in files:
            jpath = self._path(f)
            reader = self._open(self._input_file(jpath, self._conf), self._options)
            try:
                meta, rows = reader.getFooter(), reader.getRecordCount()
            finally:
                reader.close()
            # nullable, as every file source's read schema is
            jschema = self._to_schema(self._footer(jpath, meta), self._converter).asNullable()
            out.append((StructType.fromJson(json.loads(jschema.json())), rows))
        return out

    def schema(self, footers: list[tuple[StructType, int]]) -> StructType:
        """The schema inference gives a read of the footers' files (in
        ``files`` order): the first file's, or with
        ``spark.sql.parquet.mergeSchema`` on, all of them merged in
        order, as Spark merges them."""
        if not self.merging or len(footers) == 1:
            return footers[0][0]
        merged = self._from_json(footers[0][0].json())
        for s, _ in footers[1:]:
            merged = merged.merge(self._from_json(s.json()), self._case_sensitive)
        return StructType.fromJson(json.loads(merged.json()))

    def frame(self, path: str) -> DataFrame:
        """``spark.read.parquet(path)`` under the schema its footers
        give, so no inference job runs. A partitioned or empty
        ``path`` takes Spark's inference (and its error)."""
        files = self.files(path)
        if not files:
            return self.spark.read.parquet(path)
        footers = self.read(files if self.merging else files[:1])
        return self.spark.read.schema(self.schema(footers)).parquet(path)


def read_folder_union_by_name(
    spark: SparkSession, folder: str, fmt: str = "parquet", schema=None
) -> DataFrame:
    """Read every file in *folder* and union by name.

    Tries the fast single-scan path first (works when schemas agree);
    falls back to per-file reads + unionByName for heterogeneous
    folders, mirroring /root/reference/main.py:692-696.
    ``fmt="any"`` dispatches a MIXED folder per file extension
    (see ``_read_mixed_folder``).

    ``schema`` (DDL string or StructType) is the
    schema-knowing caller's escape hatch from the inference pass: the
    folder reads as ONE multi-file scan under the declared schema —
    zero probes, zero inference jobs, each byte read exactly once —
    while keeping the folder API's listing and extension aliasing.
    Semantics under a schema: json null-fills missing keys and
    coerces per Spark's schema read (deliberate — the caller declared
    the types); csv maps COLUMNS POSITIONALLY (Spark's schema'd csv
    read), so heterogeneous header orders need the inference path.
    Refused for ``fmt="any"`` (a mixed folder has per-format shapes
    by design) and ``xlsx`` (stdlib codec infers from cells).

    Probe cost: the self-describing columnar formats (parquet/orc)
    probe every file on a driver thread pool — each probe is a footer
    READ, metadata-priced at any file size, so exhaustive
    heterogeneity detection is cheap. Parquet footers are read on the
    driver (``ParquetFooters``), so a parquet folder launches no Spark
    job; an ORC probe is a schema-inference job per file, plus one for
    a homogeneous folder's scan. The INFERENCE formats (csv/json)
    route through ``_read_inference_folder`` instead: driver-side
    first-line signatures bound the job count to one distributed
    inference job per schema group (see its docstring for the
    inference-pass cost contract and the loss-free guarantees)."""
    if schema is not None and fmt in ("any", "xlsx"):
        raise ValueError(f"schema= is not supported with fmt={fmt!r}")
    if fmt == "any":
        return _read_mixed_folder(spark, folder)
    files = hadoop_ls(spark, folder, f".{fmt}")
    if not files:
        raise ValueError(f"no .{fmt} files in {folder}")
    # xlsx is not a Spark data source: route every workbook through the
    # stdlib SpreadsheetML codec, same as the fmt="any" dispatch (a
    # bare format("xlsx") has no source to load)
    if fmt == "xlsx":
        from .excel import read_excel

        return union_by_name([read_excel(spark, _xlsx_local(f)) for f in files])
    # extension aliases, not registered source names: jsonl reads
    # through the json reader (Spark has no "jsonl" source), and
    # txt through the text reader (one `value` column per line — the
    # plain-text corpus folder an LLM pipeline ingests; schema is
    # static, so no inference scan ever runs and the probe below is
    # plan-only). hadoop_ls already accepts .txt.gz shards.
    src_fmt = {"jsonl": "json", "txt": "text"}.get(fmt, fmt)
    # csv contract for the ad-hoc probe path: files carry a header row
    # (the reference's ingestion assumption) and types are inferred —
    # without these options header rows ingested as DATA rows and every
    # column arrived as string. Callers with headerless
    # csv read explicitly with their own options.
    opts = {"header": "true", "inferSchema": "true"} if src_fmt == "csv" else {}
    if schema is not None:
        # the declared schema replaces both the probe pool and the
        # inference job: one multi-file scan, one pass over the bytes
        if src_fmt == "csv":
            opts.pop("inferSchema")
        return (
            spark.read.format(src_fmt).options(**opts).schema(schema).load(files)
        )
    if src_fmt in ("json", "csv"):
        return _read_inference_folder(spark, files, src_fmt, opts)
    # text's schema is STATIC (value string) by construction: no
    # heterogeneity to detect, so skip the probe pool entirely — a
    # 100k-shard corpus is one multi-file scan with zero driver-side
    # per-file reader constructions
    if src_fmt == "text":
        return spark.read.format("text").load(files)

    # format(...).load accepts a path LIST for every source; the
    # per-format reader methods differ (parquet(*paths) is varargs but
    # json/csv take (path, schema, ...) — unpacking files into json()
    # would parse the second path as a DDL schema string).
    # spark.read returns a FRESH DataFrameReader per access, so probe
    # threads never share a mutable builder.
    if src_fmt == "parquet":
        _probe = ParquetFooters(spark).frame
    else:
        def _probe(f: str) -> DataFrame:
            return spark.read.format(src_fmt).options(**opts).load(f)

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(16, len(files))) as ex:
        dfs = list(ex.map(_probe, files))
    schemas = {
        tuple(sorted((c.name, c.dataType.simpleString()) for c in df.schema))
        for df in dfs
    }
    if len(schemas) == 1:
        # homogeneous: one multi-file scan, partition-parallel; parquet
        # takes the first file's footer schema (what inference picks)
        reader = spark.read.format(src_fmt).options(**opts)
        if src_fmt == "parquet":
            reader = reader.schema(dfs[0].schema)
        return reader.load(files)
    return union_by_name(dfs)


def _first_line(spark: SparkSession, f: str) -> str | None:
    """First text line of a (possibly gzip-compressed) file through
    the Hadoop FileSystem + codec factory — a bounded driver-side
    metadata read (one open, a few KB, zero Spark jobs), scheme-
    agnostic like ``hadoop_ls``. None for an empty file."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(f)
    conf = spark._jsc.hadoopConfiguration()
    raw = jpath.getFileSystem(conf).open(jpath)
    # close the OUTERMOST stream so a codec-created stream's close()
    # runs too: compression codecs allocate pooled (sometimes
    # native-buffer-backed) Decompressors in createInputStream, and
    # closing only `raw` leaked one per peeked .gz shard until GC
    outer = raw
    try:
        codec = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(
            conf
        ).getCodec(jpath)
        if codec is not None:
            outer = codec.createInputStream(raw)
        outer = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(outer, "UTF-8")
        )
        return outer.readLine()
    finally:
        outer.close()


def _read_inference_folder(
    spark: SparkSession, files: list[str], src_fmt: str, opts: dict[str, str]
) -> DataFrame:
    """Bounded-probe ingestion for the INFERENCE formats (csv/json).

    The former per-file probe pool issued N driver-serialized Spark
    jobs (one inference scan per file) and the homogeneous fast path
    then re-read all N files. What this path bounds is
    the JOB COUNT: one distributed inference job per signature group,
    independent of the file count. The inference job still reads the
    group's bytes once before the real scan reads them again — that
    second pass is the price of loss-free schemas (a
    representative-file shortcut would read each group's bytes once
    but silently drop later-record keys); callers who know their
    schema skip it entirely — keeping the folder API's listing and
    aliasing — via ``read_folder_union_by_name(..., schema=...)``.

    Heterogeneity is DETECTED from each file's first line — a
    bounded driver-side read (header row for csv, first record's key
    set + primitive-type classes for json), no Spark jobs: files
    group by signature, and each group reads as ONE multi-file scan
    whose schema Spark infers over the WHOLE group in a single
    distributed inference job (a representative file's schema
    would silently DROP keys appearing only
    in later records of a sibling file — sparse/optional fields, the
    norm in scraped JSONL — and degraded same-key type conflicts to
    silent PERMISSIVE nulls). The job count stays independent of the
    file count — a homogeneous folder of N files is exactly one
    inference job + one real scan, however large N — and the
    group-wide inference restores ``unionByName``-equivalent
    semantics: later-record keys surface as null-filled columns, and
    later-record type drift widens (Spark's inference merges
    conflicting primitive types to string, preserving the values)
    instead of nulling.

    Contract note: json signatures carry the first record's
    primitive-type classes, so files whose FIRST records already
    disagree on a shared key's type land in different groups — and
    the pre-union check below refuses the conflict STRUCTURALLY at
    plan time (``unionByName`` alone coerces the string
    side to the numeric type, so numeric-parseable strings slipped
    through silently and only non-castable values raised, at action
    time, data-dependently). Numeric widening (int/long vs
    float/double) stays allowed — it is loss-free and was always the
    union's behavior. Type drift visible only in later records is
    widened by the group inference as above (data preserved,
    stringly) rather than crashing. A file whose first line is
    unreadable as a signature (empty file, non-record JSON) falls
    back to its own single-file inference read, preserving the old
    per-file semantics for exactly the files that need them — the
    structural conflict check covers those frames too."""
    def _jclass(v) -> str:
        # coarse classes: int/float group together (inference widens
        # long+double to double). None is a TYPE WILDCARD, not a
        # class of its own: a null first-record value carries no type
        # evidence, so the merge pass below folds null-bearing
        # signatures into compatible same-key-set groups — splitting
        # on null would route widen-able drift into separate groups
        # and a crash at union where one group's inference would have
        # widened it loss-free
        if v is None:
            return "null"
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, (int, float)):
            return "num"
        if isinstance(v, str):
            return "str"
        return "arr" if isinstance(v, list) else "obj"

    def _sig(f: str):
        line = _first_line(spark, f)
        if line is None:
            return None
        if src_fmt == "csv":
            # exact header-string identity; Spark parses the columns
            return ("csv", line)
        try:
            rec = json.loads(line)
        except ValueError:
            return None
        if not isinstance(rec, dict):
            return None
        return ("json", tuple(sorted((k, _jclass(v)) for k, v in rec.items())))

    # the peeks are KB-scale but latency-bound (one FS open each): a
    # 100k-shard folder peeked sequentially would serialize minutes of
    # driver round-trips, so they run on the same bounded thread pool
    # the parquet/orc footer probes use (insertion into `groups`
    # happens on this thread, in `files` order — deterministic)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(16, len(files))) as ex:
        sigs = list(ex.map(_sig, files))
    groups: dict[tuple, list[str]] = {}
    oddballs: list[str] = []
    for f, s in zip(files, sigs):
        if s is None:
            oddballs.append(f)
        else:
            groups.setdefault(s, []).append(f)
    if src_fmt == "json" and len(groups) > 1:
        groups = _merge_null_wildcard_groups(groups)
    # one multi-path read per group, schema inferred over the WHOLE
    # group in one distributed job (never per file, never a forced
    # representative schema — see the contract note above)
    dfs = [
        spark.read.format(src_fmt).options(**opts).load(group_files)
        for group_files in groups.values()
    ]
    dfs.extend(
        spark.read.format(src_fmt).options(**opts).load(f) for f in oddballs
    )
    _refuse_cross_group_type_conflicts(dfs)
    return union_by_name(dfs)


def _union_compatible(a, b) -> bool:
    """True when ``unionByName(allowMissingColumns=True)`` reconciles
    the two types LOSS-FREE: equal types, numeric widening, NullType
    against anything, and — recursively — structs whose SHARED fields
    are compatible (disjoint fields are nested null-fill, the
    documented union semantics, not a conflict) and arrays/maps of
    compatible element types. String vs numeric/bool stays
    incompatible: that pair is the data-dependent cast the check
    exists to refuse (``simpleString`` equality would also refuse
    struct field-set supersets and array element widening that the
    union handles losslessly)."""
    from pyspark.sql.types import ArrayType, MapType, NullType, StructType

    if a == b or isinstance(a, NullType) or isinstance(b, NullType):
        return True
    if {a.typeName(), b.typeName()} <= {
        "byte", "short", "integer", "long", "float", "double"
    }:
        return True
    if isinstance(a, StructType) and isinstance(b, StructType):
        bf = {f.name.lower(): f.dataType for f in b.fields}
        return all(
            _union_compatible(f.dataType, bf[f.name.lower()])
            for f in a.fields
            if f.name.lower() in bf
        )
    if isinstance(a, ArrayType) and isinstance(b, ArrayType):
        return _union_compatible(a.elementType, b.elementType)
    if isinstance(a, MapType) and isinstance(b, MapType):
        return _union_compatible(a.keyType, b.keyType) and _union_compatible(
            a.valueType, b.valueType
        )
    return False


def _refuse_cross_group_type_conflicts(dfs: list[DataFrame]) -> None:
    """Refuse same-name columns whose inferred types conflict ACROSS
    the signature-group frames: left to ``unionByName``,
    Spark coerces the string side toward the numeric type, so a
    numeric-parseable string column ("123") unions silently and only a
    non-castable value raises — at ACTION time, data-dependently. A
    plan-time structural error names the column and both types instead.
    Compatibility is judged by ``_union_compatible`` (loss-free
    reconciliations pass), and names key CASE-INSENSITIVELY, matching
    the default ``spark.sql.caseSensitive=false`` resolution the union
    itself uses (an exact-name map would let "V" vs "v" bypass the
    check and hit the action-time cast anyway).

    Known-undecidable boundary: a key that is null in EVERY record of
    one group's files infers as string there, so against a numeric
    group it refuses even though the union would cast its nulls
    losslessly — plan time cannot distinguish all-null strings from
    real ones. Callers who know say so with an explicit ``schema=``
    (see ``read_folder_union_by_name``), which skips inference and
    grouping entirely."""
    seen: dict[str, dict[str, object]] = {}
    for df in dfs:
        for f in df.schema.fields:
            seen.setdefault(f.name.lower(), {})[f.dataType.simpleString()] = (
                f.dataType
            )
    for name, types in sorted(seen.items()):
        if len(types) < 2:
            continue
        ts = list(types.values())
        bad = not all(
            _union_compatible(ts[i], ts[j])
            for i in range(len(ts))
            for j in range(i + 1, len(ts))
        )
        if bad:
            raise ValueError(
                f"folder schema conflict on column {name!r}: files' first "
                f"records disagree on its type ({sorted(types)}); pass an "
                "explicit schema= to read_folder_union_by_name to coerce "
                "deliberately"
            )


def _merge_null_wildcard_groups(
    groups: dict[tuple, list[str]]
) -> dict[tuple, list[str]]:
    """Fold json signature groups whose first-record type classes
    differ only through NULLS into one group: a null
    first-record value is absent type evidence, and the group-wide
    inference read resolves the real type loss-free — whereas keeping
    the null-bearing files apart routes widen-able later-record drift
    into separate groups whose union then crashes. Two signatures with
    the same key set merge when every per-key class pair is equal or
    has a null side; merging is transitive (union-find), so a
    null-bearing file can bridge two otherwise-conflicting groups —
    the result is then one widened (stringly) group instead of a
    union-time crash, consistent with the later-record-drift contract.
    Conflicting signatures with NO null bridge still split and refuse
    loudly at union."""
    sigs = list(groups)
    parent = list(range(len(sigs)))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    def compatible(a: tuple, b: tuple) -> bool:
        ka, kb = tuple(k for k, _ in a[1]), tuple(k for k, _ in b[1])
        if ka != kb:
            return False
        return all(
            ca == cb or "null" in (ca, cb)
            for (_, ca), (_, cb) in zip(a[1], b[1])
        ) and any("null" in (ca, cb) for (_, ca), (_, cb) in zip(a[1], b[1]))

    for i in range(len(sigs)):
        for j in range(i + 1, len(sigs)):
            if compatible(sigs[i], sigs[j]):
                parent[find(i)] = find(j)
    merged: dict[tuple, list[str]] = {}
    for i, s in enumerate(sigs):
        root = sigs[find(i)]
        merged.setdefault(root, []).extend(groups[s])
    return merged


def _xlsx_local(f: str) -> str:
    """Strip the ``file:`` scheme for the driver-side xlsx codec;
    refuse non-local schemes loudly (workbooks decode on the driver)."""
    local = f[len("file:"):] if f.startswith("file:") else f
    if ":" in local.split("/", 1)[0] and "://" in f:
        raise ValueError(f"xlsx decode needs a local path; got {f!r}")
    return local


# fmt="any" file routing: formats whose schema needs no caller
# contract. csv is deliberately absent (header-vs-data is a caller
# contract — pass fmt="csv" explicitly); txt routes through the text
# source (static `value` column, null-filled against the other
# frames' columns by the union). .gz acceptance mirrors hadoop_ls
# (text sources decompress transparently, containers do not).
_MIXED_READERS = ("parquet", "orc", "json", "jsonl", "xlsx", "txt", "text")


def _read_mixed_folder(spark: SparkSession, folder: str) -> DataFrame:
    """True mixed-format folder union (``fmt="any"``): each file routes
    through its format's reader by extension (parquet schemas from
    footers on the driver), frames align by name with null fill. Unknown
    extensions refuse LOUDLY with the full offending list — a silent
    skip would under-count the corpus."""
    files = hadoop_ls(spark, folder, None)
    if not files:
        raise ValueError(f"no files in {folder}")
    dfs, json_files, text_files, unknown = [], [], [], []
    footers = ParquetFooters(spark)
    for f in files:
        name = f.rsplit("/", 1)[-1].lower()
        base, gz = (name[:-3], True) if name.endswith(".gz") else (name, False)
        ext = base.rsplit(".", 1)[-1] if "." in base else ""
        if gz and ext not in ("json", "jsonl", "txt", "text"):
            unknown.append(name)  # gzip wraps containers unreadably
        elif ext in ("txt", "text"):
            # static schema: batched into one text scan below
            text_files.append(f)
        elif ext == "parquet":
            dfs.append(footers.frame(f))
        elif ext == "orc":
            dfs.append(spark.read.orc(f))
        elif ext in ("json", "jsonl"):
            # collected, then read through the bounded-probe inference
            # path as ONE batch — per-file spark.read.json here was a
            # full inference scan per file
            json_files.append(f)
        elif ext == "xlsx":
            from .excel import read_excel

            dfs.append(read_excel(spark, _xlsx_local(f)))
        else:
            unknown.append(name)
    if unknown:
        raise ValueError(
            f"fmt='any' cannot route {sorted(unknown)} — supported "
            f"extensions: {_MIXED_READERS} (+.gz for json/jsonl/txt); "
            "csv needs an explicit fmt='csv' call (header contract)"
        )
    if json_files:
        dfs.append(_read_inference_folder(spark, json_files, "json", {}))
    if text_files:
        dfs.append(spark.read.format("text").load(text_files))
    return union_by_name(dfs)
