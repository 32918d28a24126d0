"""Engine configuration (SURVEY.md §2.1 S5).

Replaces the reference's INI scalars + process globals
(/root/reference/main.py:638-686, config.ini:1-13) with one explicit,
validated parameter object. The reference's config bugs (SURVEY.md
§2.11) are fixed deliberately:

* ``int(config.get(...))`` truthiness treated ``"0"`` as unset
  (main.py:672-684) — here every field has a typed default and ``0`` is
  a value like any other.
* an empty ``data_folder`` cleared ``search_file`` (main.py:658-659) —
  fields are independent.
* the threshold reached one code path via a global and another via a
  hardcoded literal (main.py:246 vs :475,560) — here it is plumbed as a
  real parameter everywhere.
* key columns were persisted but ignored in favor of a hardcoded
  ``"sku"`` (§1.2) — here the key column names are authoritative.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field

from .operators.fuzzy_join import STRATEGIES


@dataclass(frozen=True)
class EngineConfig:
    """Job parameters for a fuzzy find/compare run."""

    search_path: str = ""          # probe table (reference: search_file)
    data_folder: str = ""          # candidate folder scan (reference: data_folder)
    output_path: str = ""          # curated sink (reference: output.xlsx)
    search_key_col: str = "sku"    # probe key column (reference: column_index1)
    data_key_col: str = "sku"      # candidate key column (reference: column_index2)
    threshold: int = 3             # edit-distance threshold (config.ini:13)
    strategy: str = "broadcast"    # broadcast | band | qgram
    streaming: bool = False        # file stream, whole files per micro-batch (reference: multithreading)
    output_distances: bool = False  # include dist column in sink (config.ini:6-8)
    spark_conf: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.threshold < 0:
            raise ValueError(f"threshold must be >= 0, got {self.threshold}")
        if self.strategy not in STRATEGIES:
            raise ValueError(f"unknown strategy {self.strategy!r}")

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=2, sort_keys=True)

    @classmethod
    def from_json(cls, text: str) -> "EngineConfig":
        raw = json.loads(text)
        unknown = set(raw) - set(cls.__dataclass_fields__)
        if unknown:
            raise ValueError(f"unknown config fields: {sorted(unknown)}")
        return cls(**raw)
