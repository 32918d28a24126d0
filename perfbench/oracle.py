"""Outside-in correctness checks: DuckDB and pyarrow only, never Spark.

``expected_curation`` runs the package's own tier oracle
(``plans.queries_fuzzy.tier_oracle_sql``: a full cross join with window
mins, the reference semantics written as SQL) over the benchmark's
input files, then applies the keep/replace policy to get the key every
probe row must carry after curation. A sink is
checked by comparing the content hash of what the program wrote with
the hash of the rows the oracle expects, matched through the probe
``tag``, so every row and every key counts.
"""

from __future__ import annotations

import hashlib

import pyarrow.parquet as pq

Row = tuple[str, str, int]  # (tag, sku, qty)


def _files_sql(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def expected_curation(
    probe_files: list[str], catalog_files: list[str], threshold: int
) -> dict[str, Row]:
    """tag -> (tag, curated sku, qty) for every probe row: keep the
    probe key when an exact match exists or no unique best exists,
    otherwise replace it with the unique best candidate."""
    import duckdb

    from data_finder_comparator_spark.plans.queries_fuzzy import tier_oracle_sql

    probes_cte = (
        "probes AS (SELECT row_number() OVER (ORDER BY tag) AS probe_id, "
        f"sku AS probe, tag, qty FROM read_parquet({_files_sql(probe_files)}))"
    )
    cands_cte = (
        "cands AS (SELECT row_number() OVER (ORDER BY sku) AS cand_id, sku AS cand "
        f"FROM read_parquet({_files_sql(catalog_files)}, union_by_name = true))"
    )
    tiers = tier_oracle_sql(probes_cte, cands_cte, "", threshold)
    sql = f"""
WITH decided AS (
  SELECT probe_id,
         sum(CASE WHEN tier = 'exact' THEN 1 ELSE 0 END) AS n_exact,
         sum(CASE WHEN tier = 'best' THEN 1 ELSE 0 END) AS n_best,
         max(CASE WHEN tier = 'best' THEN cand END) AS best_cand
  FROM ({tiers}) GROUP BY probe_id
),
{probes_cte}
SELECT p.tag,
       CASE WHEN d.n_exact = 0 AND d.n_best = 1 THEN d.best_cand ELSE p.probe END,
       p.qty
FROM probes p LEFT JOIN decided d USING (probe_id)
"""
    con = duckdb.connect()
    try:
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    return {r[0]: (r[0], r[1], int(r[2])) for r in rows}


def read_rows(path: str) -> list[Row]:
    """All (tag, sku, qty) rows of a parquet file or folder, via pyarrow."""
    t = pq.read_table(path, columns=["tag", "sku", "qty"])
    return list(zip(*(t.column(c).to_pylist() for c in ("tag", "sku", "qty"))))


def rows_digest(rows: list[Row]) -> str:
    """Order-insensitive content hash of a row multiset."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def upserted(seed: list[Row], batch: list[Row]) -> list[Row]:
    """What a keyed upsert of ``batch`` into ``seed`` must leave: every
    batch row, plus every seed row whose key the batch does not carry."""
    keys = {r[1] for r in batch}
    return [r for r in seed if r[1] not in keys] + list(batch)


def count_failed(checked: list[tuple[int, str, bool]], want: dict[int, str]) -> int:
    """Ops whose readback disagreed with the sink, or whose sink content
    differs from what the oracle expects for the op's batch."""
    return sum(1 for batch, digest, ok in checked if not ok or digest != want[batch])
