"""Row curation: the keep/replace verdict loop as deterministic Spark ops.

The reference's GUI loop lets a human Keep (append probe row unchanged)
or Replace (update the key cell, then append) into an xlsx sink
(/root/reference/main.py:521-553, S3/S4 in SURVEY.md §2.1). The engine
replaces the interactive verdict with a deterministic policy (SURVEY.md
§3.4) and the O(n²) re-read-per-append sink with parquet append:

* ``replaces`` — the policy, stated once: keep if an exact match
  exists, replace with the best match when it is unique, else keep.
  ``pipeline._curate`` applies it per distinct probe key from match
  counts; ``curation_decisions`` per probe row from a tier table.
* ``apply_curation`` — the point-update (P5: when/otherwise on the key
  column, no positional rows) of a tier table's decisions, joined back
  by probe id.
* ``append_sink`` — ``mode("append")`` parquet write: header-once and
  offset bookkeeping are free (vs main.py:530-533's full re-read).
* ``with_row_ids`` — deterministic dense row ids (P4) for callers that
  need positional identity. Spark has no positional rows; a total
  order must be imposed. Global ids funnel through one partition —
  fine for small outputs, wrong for facts; partition the window
  whenever a grouping key exists. Curation itself needs none: a
  decision depends only on the probe's key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.union import ParquetFooters


def replaces(n_exact: Column, n_best: Column) -> Column:
    """The keep/replace policy over a probe's match counts: replace the
    key only when no exact match exists and exactly one candidate is
    best (main.py:538-553); keep it otherwise."""
    return (n_exact == 0) & (n_best == 1)


def curation_decisions(tiers: DataFrame) -> DataFrame:
    """Collapse a tiered fuzzy-join result (OUT_COLS of
    ``tiered_fuzzy_join``) into one decision row per probe, by the
    ``replaces`` policy: action 'replace' with the best candidate's
    value as the new key, or 'keep' with the probe's own."""
    agg = tiers.groupBy("probe_id", "probe").agg(
        F.sum(F.when(F.col("tier") == "exact", 1).otherwise(0)).alias("n_exact"),
        F.sum(F.when(F.col("tier") == "best", 1).otherwise(0)).alias("n_best"),
        F.max(F.when(F.col("tier") == "best", F.col("cand"))).alias("best_cand"),
    )
    replace = replaces(F.col("n_exact"), F.col("n_best"))
    return agg.select(
        "probe_id",
        "probe",
        F.when(replace, F.lit("replace")).otherwise(F.lit("keep")).alias("action"),
        F.when(replace, F.col("best_cand")).otherwise(F.col("probe")).alias("final_key"),
    )


def apply_curation(probe_df: DataFrame, decisions: DataFrame, id_col: str, key_col: str) -> DataFrame:
    """Point-update the key column per decision (P5/S4): broadcast the
    small decisions table, conditional replace — no row positions."""
    # reserved names for the decision columns: a probe table may
    # legitimately carry its own 'action'/'final_key' (audit data) —
    # joining them verbatim made the reference ambiguous and the final
    # drop would delete the user's column
    d = F.broadcast(
        decisions.select(
            F.col("probe_id").alias(id_col),
            F.col("final_key").alias("__curation_final_key"),
            F.col("action").alias("__curation_action"),
        )
    )
    joined = probe_df.join(d, id_col, "left")
    return joined.withColumn(
        key_col,
        F.when(
            F.col("__curation_action") == "replace",
            F.col("__curation_final_key"),
        ).otherwise(F.col(key_col)),
    ).drop("__curation_final_key", "__curation_action")


def append_sink(df: DataFrame, path: str) -> None:
    """S3: append rows to a parquet sink. Header-once / offset logic is
    inherent to the format (vs the reference's O(n²) re-read)."""
    df.write.mode("append").parquet(path)


def upsert_sink(df: DataFrame, path: str, key_col: str) -> None:
    """S4 as a real sink MERGE: rows whose key already exists in the
    sink are replaced by the incoming row; new keys are appended.

    Parquet has no transactional MERGE, so this is read → anti-join →
    union → staged write → ATOMIC DIRECTORY SWAP: the merged result is
    fully materialized at ``path + ".staging"`` (while ``path`` is
    still being lazily read), then promoted via two directory renames
    (path → .old, .staging → path) — each rename is atomic on
    HDFS/POSIX, the merged data is written exactly once (no
    read-staging-rewrite second pass), and a crash between the renames
    leaves the data intact in ``.staging``/``.old``, healed by the
    recovery step on the next call. Fully distributed — nothing
    funnels through the driver. Object stores (S3) rename by copy —
    there, and for concurrent writers, a lakehouse table format is the
    real answer: ``sinks.lakehouse.TransactionalTable.merge`` gives
    exactly these semantics through an Iceberg-style commit log
    (atomic manifest claim, optimistic retry, only matched-key files
    rewritten) — use it whenever the sink outlives one writer."""
    spark = df.sparkSession
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    jpath = hpath(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    staging = hpath(path.rstrip("/") + ".staging")
    old = hpath(path.rstrip("/") + ".old")

    # Recovery: a previous run that crashed between the two renames
    # left ``path`` missing. The staged merge is complete iff its
    # _SUCCESS marker exists (the staging write finished before any
    # rename started) — promote it; otherwise roll the old sink back.
    # Rename returns MUST be checked before any delete: a failed
    # recovery rename (permissions, quota, transient FS error) followed
    # by the leftover sweep below would destroy the only surviving copy
    # of the sink.
    if not fs.exists(jpath):
        if fs.exists(staging) and fs.exists(hpath(str(staging) + "/_SUCCESS")):
            if not fs.rename(staging, jpath):
                raise IOError(
                    f"upsert_sink: recovery promotion of {staging} failed; "
                    "sink left untouched for manual inspection"
                )
        elif fs.exists(old):
            if not fs.rename(old, jpath):
                raise IOError(
                    f"upsert_sink: recovery rollback of {old} failed; "
                    "sink left untouched for manual inspection"
                )
    # stale leftovers from completed or pre-staging crashes (only after
    # any recovery rename above succeeded)
    for leftover in (staging, old):
        if fs.exists(leftover):
            fs.delete(leftover, True)

    # Existence is decided by an explicit filesystem check, NOT by
    # catching read errors: a transient read failure (object-store 503,
    # permission hiccup) misclassified as "no sink yet" would overwrite
    # the path and destroy every previously-sunk row.
    has_data = fs.exists(jpath) and any(
        not st.getPath().getName().startswith(("_", "."))
        for st in fs.listStatus(jpath)
    )  # a dir with only _temporary/_SUCCESS is a crashed first write,
    # not a sink with rows — safe (and necessary) to overwrite
    if not has_data:
        df.write.mode("overwrite").parquet(path)
        return
    existing = ParquetFooters(spark).frame(path)
    kept = existing.join(df.select(key_col).distinct(), key_col, "left_anti")
    kept.unionByName(df).write.mode("overwrite").parquet(str(staging))
    if not fs.rename(jpath, old):
        raise IOError(f"upsert_sink: could not move {path} aside for swap")
    if not fs.rename(staging, jpath):
        # demote the staged merge BEFORE rolling back: this call is
        # about to report failure, so a later call's recovery must not
        # promote the staged result behind the caller's back
        fs.delete(hpath(str(staging) + "/_SUCCESS"), False)
        if not fs.rename(old, jpath):  # roll back; sink unchanged
            raise IOError(
                f"upsert_sink: promote AND rollback both failed — the "
                f"previous sink is intact at {old} and the next call's "
                "recovery restores it (the demoted staging dir is swept)"
            )
        raise IOError(f"upsert_sink: could not promote staged merge at {staging}")
    fs.delete(old, True)


def with_row_ids(df: DataFrame, order_cols: list[str], partition_cols: list[str] | None = None, name: str = "row_id") -> DataFrame:
    """P4: deterministic dense 1-based row ids over an explicit total
    order. Partitioned when possible (scales); global otherwise."""
    w = (
        Window.partitionBy(*partition_cols) if partition_cols else Window.partitionBy()
    ).orderBy(*order_cols)
    return df.withColumn(name, F.row_number().over(w).cast("long"))
