"""Property: the composed find/compare/curate workflow
(``run_find_compare``, batch and streamed) against the outside-in
DuckDB oracle ``perfbench.oracle.expected_curation`` (the tier oracle
SQL plus the keep/replace policy over the input files), by content
hash of the sink.

The generator plants what the policy is sensitive to: catalog keys
repeated as the same raw string (``n_best`` counts catalog rows, so a
repeated best keeps the probe) and as different raw strings that
normalize equal, null keys on both sides, case and punctuation
variants, probes 0 to t+2 edits from a catalog key, far probes, and
catalog files whose extra columns drift from file to file.
"""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from data_finder_comparator_spark.config import EngineConfig
from data_finder_comparator_spark.operators.fuzzy_join import STRATEGIES
from data_finder_comparator_spark.pipeline import run_find_compare
from perfbench.oracle import expected_curation, read_rows, rows_digest

_EXTRAS = {"stock": pa.float64(), "region": pa.string(), "note": pa.string()}


def _variant(draw, s: str) -> str:
    """``s`` unchanged, or changed only in case and punctuation."""
    how = draw(st.sampled_from(["", "upper", "dash", "space"]))
    if how == "upper":
        return s.upper()
    if how == "dash":
        return "-".join(s)
    return f" {s}" if how == "space" else s


def _edits(draw, s: str, n: int) -> str:
    """``s`` after ``n`` random single-character edits (so at most ``n``
    away from it)."""
    for _ in range(n):
        op = draw(st.sampled_from("ids")) if s else "i"
        i = draw(st.integers(0, max(len(s) - 1, 0)))
        ch = draw(st.sampled_from("abcxy"))
        s = s[:i] + ch + s[i:] if op == "i" else s[:i] + ("" if op == "d" else ch) + s[i + 1 :]
    return s


@st.composite
def _cases(draw):
    t = draw(st.integers(0, 4))
    pool = draw(st.lists(st.text("abc", min_size=1, max_size=6), min_size=1, max_size=4, unique=True))
    key = st.one_of(st.none(), st.sampled_from(pool))
    catalog = []
    for _ in range(draw(st.integers(1, 4))):
        extras = draw(st.lists(st.sampled_from(sorted(_EXTRAS)), unique=True, max_size=2))
        keys = [k if k is None else _variant(draw, k) for k in draw(st.lists(key, min_size=1, max_size=5))]
        catalog.append((keys, extras))
    search: list[str | None] = []
    for _ in range(draw(st.integers(1, 8))):
        kind = draw(st.sampled_from(["edit", "edit", "repeat", "far", "null"]))
        if kind == "repeat" and search:
            search.append(draw(st.sampled_from(search)))
        elif kind == "far":
            search.append("z" * draw(st.integers(7, 12)))
        elif kind == "null":
            search.append(None)
        else:
            base = _edits(draw, draw(st.sampled_from(pool)), draw(st.integers(0, t + 2)))
            search.append(_variant(draw, base))
    cuts = sorted(draw(st.sets(st.integers(1, len(search) - 1), max_size=2))) if len(search) > 1 else []
    return {
        "t": t,
        "strategy": draw(st.sampled_from(STRATEGIES)),
        "distances": draw(st.booleans()),
        "catalog": catalog,
        "search": search,
        "cuts": cuts,
    }


def _extra(col: str, n: int) -> pa.Array:
    vals = [float(j) if _EXTRAS[col] == pa.float64() else f"{col}{j}" for j in range(n)]
    return pa.array(vals, _EXTRAS[col])


def _write(path, keys, **cols) -> str:
    pq.write_table(pa.table({"sku": pa.array(keys, pa.string()), **cols}), str(path))
    return str(path)


def _sink_rows(path) -> list[str]:
    return sorted(map(repr, pq.read_table(str(path)).to_pylist()))


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=_cases())
# a unique best whose raw key the catalog holds twice keeps its probe:
# n_best counts catalog rows, not distinct values
@example(
    case={
        "t": 2,
        "strategy": "broadcast",
        "distances": True,
        "catalog": [(["abc", "ab-c", "cab", "bbbbb"], ["stock"]), (["cab", None], ["note"])],
        "search": ["abd", "cabx", "ABC", None, "bbbbx", "cabx"],
        "cuts": [2],
    }
)
def test_run_find_compare_matches_curation_oracle(spark, tmp_path, case):
    base = tmp_path / uuid.uuid4().hex
    (base / "catalog").mkdir(parents=True)
    (base / "stream").mkdir()
    catalog = [
        _write(
            base / "catalog" / f"f{i}.parquet",
            keys,
            **{c: _extra(c, len(keys)) for c in extras},
        )
        for i, (keys, extras) in enumerate(case["catalog"])
    ]
    search = case["search"]
    tags = [f"t{i:03d}" for i in range(len(search))]
    probes = _write(base / "search.parquet", search, tag=tags, qty=list(range(len(search))))
    bounds = [0, *case["cuts"], len(search)]
    for j, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        _write(
            base / "stream" / f"probes-{j}.parquet",
            search[lo:hi],
            tag=tags[lo:hi],
            qty=list(range(lo, hi)),
        )
    want = rows_digest(list(expected_curation([probes], catalog, case["t"]).values()))

    cfg = dict(
        data_folder=str(base / "catalog"),
        threshold=case["t"],
        strategy=case["strategy"],
        output_distances=case["distances"],
    )
    run_find_compare(
        spark, EngineConfig(search_path=probes, output_path=str(base / "batch"), **cfg)
    )
    run_find_compare(
        spark,
        EngineConfig(
            search_path=str(base / "stream"),
            output_path=str(base / "streamed"),
            streaming=True,
            **cfg,
        ),
    )
    assert rows_digest(read_rows(str(base / "batch"))) == want
    assert rows_digest(read_rows(str(base / "streamed"))) == want
    if case["distances"]:
        assert _sink_rows(base / "batch") == _sink_rows(base / "streamed")
