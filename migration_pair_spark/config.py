"""Engine configuration — a frozen dataclass loaded once.

Reference analog: O14, the `SettingsModel` bound from appsettings.json
(/root/reference/Models/SettingsModel.cs:3-43, /root/reference/Settings.cs:9-14).
Deliberately dropped: the reference re-binds config on EVERY property access
(`reloadOnChange: true`), which makes a running migration's batch size
mutable mid-flight; this engine freezes configuration at load (SURVEY.md §2
O14 disposition).
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, fields


@dataclass(frozen=True)
class EngineConfig:
    """The settings the CLI reads; the table path, event and checkpoint
    directories are per-command arguments, not config."""

    # target table (applies when a command creates it)
    n_buckets: int = 32
    # change stream
    max_files_per_trigger: int = 1
    # execution
    master: str | None = None
    # "cow" (rewrite touched buckets) or "mor" (append deltas, resolve on
    # read, fold via compact) — see cdc.apply.apply_cdc_batch
    write_mode: str = "cow"
    # csv snapshot round-trip (reference Extraction/Insertion file settings,
    # /root/reference/appsettings.json; delimiter default "," matches
    # /root/reference/Models/SettingsModel.cs:41)
    csv_delimiter: str = ","
    empty_numeric_as_zero: bool = False

    @classmethod
    def load(cls, path: str | None = None, **overrides) -> "EngineConfig":
        data: dict = {}
        if path:
            with open(path) as f:
                data.update(json.load(f))
        data.update({k: v for k, v in overrides.items() if v is not None})
        known = {f.name for f in fields(cls)}
        unknown = set(data) - known
        if unknown:
            raise ValueError(f"unknown config keys: {sorted(unknown)}")
        return cls(**data)

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=2)
