"""Seeded input generator for the benchmark (pyarrow only, no JVM).

Every workload reads a catalog folder of parquet files whose schemas
drift from file to file, plus probe files shaped like a user's search
table. Keys look like retail SKUs (``CH-S09FTXD-BL/SC``): mixed case,
``-``, ``/`` and spaces, 10-16 characters. The probe mix plants, per
catalog key it was drawn from:

* ``same``  - the catalog string itself (exact tier, dist 0)
* ``case``  - case and punctuation changed only (exact after normalizing)
* ``d1``..``d3`` - 1 to 3 edits on alphanumerics (best/potential tiers)
* ``far``   - a fresh all-digit key (poor-tier fallback): every catalog
  key has at least 4 letters, so no catalog key is within 3 edits of it

Edited and far probes never normalize to a catalog key or to another
probe, so each probe's curated key is its own: a probe keeps its string
or takes its source's. Each probe row carries a unique ``tag`` so an
output row can be traced back to the probe it came from, independently
of the program's own row ids. The program receives only the files written here; ``hash_tree``
records a content hash of every one of them.
"""

from __future__ import annotations

import hashlib
import os
import random
import string

import pyarrow as pa
import pyarrow.parquet as pq

ALNUM = string.ascii_uppercase + string.digits
SEPS = ("-", "/", " ")

# Schema drift across catalog files: every file has the key, payload
# columns come and go, so the union-by-name reader must null-fill.
CATALOG_SCHEMAS = (
    ("price", "qty"),
    ("price", "qty", "color"),
    ("qty", "vendor"),
    ("price", "color", "vendor", "updated"),
)

PROBE_SCHEMA = pa.schema(
    [("sku", pa.string()), ("qty", pa.int32()), ("tag", pa.string())]
)


def norm(s: str) -> str:
    """The package's key normalization: lowercase, alphanumerics only."""
    return "".join(ch for ch in s.lower() if ch.isascii() and ch.isalnum())


def make_key(rng: random.Random) -> str:
    body = "".join(
        ch.lower() if rng.random() < 0.25 else ch
        for ch in rng.choices(ALNUM, k=rng.randint(4, 7))
    )
    key = (
        "".join(rng.choices(string.ascii_uppercase, k=2))
        + "-"
        + body
        + rng.choice(SEPS)
        + "".join(rng.choices(string.ascii_uppercase, k=2))
    )
    if len(key) <= 13 and rng.random() < 0.5:
        key += "/" + "".join(rng.choices(string.ascii_uppercase, k=2))
    return key


def distinct_keys(rng: random.Random, n: int, taken: set[str] | None = None) -> list[str]:
    """``n`` keys whose normalized forms are distinct from each other
    and from every normalized key in ``taken``."""
    seen = set(taken or ())
    out = []
    while len(out) < n:
        k = make_key(rng)
        nk = norm(k)
        if nk not in seen:
            seen.add(nk)
            out.append(k)
    return out


def far_key(rng: random.Random) -> str:
    """An all-digit key of the catalog's shape."""
    key = (
        "".join(rng.choices(string.digits, k=2))
        + "-"
        + "".join(rng.choices(string.digits, k=rng.randint(4, 7)))
        + rng.choice(SEPS)
        + "".join(rng.choices(string.digits, k=2))
    )
    if len(key) <= 13 and rng.random() < 0.5:
        key += "/" + "".join(rng.choices(string.digits, k=2))
    return key


def case_variant(rng: random.Random, key: str) -> str:
    """Same normalized key, different string: flip case, swap separators."""
    flipped = "".join(ch.swapcase() if ch.isalpha() else ch for ch in key)
    sep = rng.choice(SEPS)
    out = "".join(sep if ch in SEPS else ch for ch in flipped)
    return out if out != key else out + "-"


def edit_variant(rng: random.Random, key: str, edits: int) -> str:
    """Apply ``edits`` random substitutions, deletions or insertions of
    alphanumeric characters (so the normalized distance is at most
    ``edits``)."""
    chars = list(key)
    for _ in range(edits):
        pos = [i for i, ch in enumerate(chars) if ch.isalnum()]
        op = rng.choice(("sub", "del", "ins")) if len(pos) > 6 else "sub"
        i = rng.choice(pos)
        if op == "sub":
            chars[i] = rng.choice([c for c in ALNUM if c != chars[i].upper()])
        elif op == "del":
            del chars[i]
        else:
            chars.insert(i, rng.choice(ALNUM))
    return "".join(chars)


def catalog_tables(rng: random.Random, keys: list[str], n_files: int) -> list[pa.Table]:
    """Split ``keys`` over ``n_files`` tables with drifting schemas."""
    tables = []
    for f in range(n_files):
        part = keys[f::n_files]
        n = len(part)
        cols: dict[str, pa.Array] = {"sku": pa.array(part, pa.string())}
        for name in CATALOG_SCHEMAS[f % len(CATALOG_SCHEMAS)]:
            if name == "price":
                cols[name] = pa.array([round(rng.uniform(1, 500), 2) for _ in range(n)], pa.float64())
            elif name == "qty":
                cols[name] = pa.array([rng.randint(0, 999) for _ in range(n)], pa.int32())
            elif name == "updated":
                cols[name] = pa.array([rng.randint(1_600_000_000, 1_700_000_000) for _ in range(n)], pa.int64())
            else:
                cols[name] = pa.array(
                    ["".join(rng.choices(string.ascii_lowercase, k=5)) for _ in range(n)], pa.string()
                )
        tables.append(pa.table(cols))
    return tables


def probe_rows(
    rng: random.Random,
    catalog: list[str],
    n: int,
    mix: dict[str, int],
    tag_prefix: str,
    taken: set[str],
) -> pa.Table:
    """``n`` probe rows drawn from distinct catalog keys; ``mix`` gives
    the relative weight of each probe kind. ``taken`` holds the
    normalized catalog keys; far and edited probes are added to it, so
    none of them repeats a normalized key."""
    kinds = [k for k, w in mix.items() for _ in range(w)]
    sources = rng.sample(catalog, n)
    skus = []
    for i, src in enumerate(sources):
        kind = kinds[i % len(kinds)]
        if kind == "same":
            skus.append(src)
        elif kind == "case":
            skus.append(case_variant(rng, src))
        else:
            while True:
                k = far_key(rng) if kind == "far" else edit_variant(rng, src, int(kind[1]))
                if norm(k) not in taken:
                    break
            taken.add(norm(k))
            skus.append(k)
    order = list(range(n))
    rng.shuffle(order)
    return pa.table(
        {
            "sku": pa.array([skus[i] for i in order], pa.string()),
            "qty": pa.array([rng.randint(1, 50) for _ in order], pa.int32()),
            "tag": pa.array([f"{tag_prefix}{j}" for j in range(n)], pa.string()),
        },
        schema=PROBE_SCHEMA,
    )


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def hash_tree(root: str) -> dict[str, str]:
    """sha256 of every file under ``root`` (relative path -> digest),
    plus ``"*"``: one digest over all of them in path order."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    total = hashlib.sha256()
    for rel in sorted(out):
        total.update(f"{rel}\0{out[rel]}\n".encode())
    out["*"] = total.hexdigest()
    return out
