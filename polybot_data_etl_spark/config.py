"""Typed engine configuration — the reference's `config/` + `.env`
layer, engine-side.

Reference provenance: the reference injected runtime settings through a
`config/` package and an `.env` file [REC src/etl/.DS_Store:4112;
REF /.env] — the connector-credential / DSN pattern.  This module is
the same boundary for the Spark engine: every externally-tunable knob
is read from environment ONCE into a frozen dataclass, validated with
the failing variable NAMED, and handed to `session.build_session` /
`bench.py` / the driver entrypoints.  Nothing else in the engine reads
`os.environ` for tuning (grep-enforced by tests/test_config.py), so a
misconfigured deployment fails at startup with one clear message, not
deep inside a job.

Environment contract (all optional — defaults match the local[32]
driver harness):

  SPARK_GRAFT_SF_DIR    fixture directory      (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS      local[] core count     (default: all cores)
"""

from __future__ import annotations

import os
from dataclasses import dataclass

# Canonical env-var name for the fixture dir, importable by the lazy
# validation at catalog.table() so error messages can name the knob
# without other modules hardcoding (or reading) the environment.
SF_DIR_ENV = "SPARK_GRAFT_SF_DIR"


@dataclass(frozen=True)
class EngineConfig:
    sf_dir: str = "/root/testdata/sf0.1"
    cpus: int | None = None          # None → local[*]

    def __post_init__(self) -> None:
        if self.cpus is not None and self.cpus <= 0:
            raise ValueError(
                f"SPARK_GRAFT_CPUS must be positive, got {self.cpus}"
            )

    @property
    def master(self) -> str:
        return f"local[{self.cpus}]" if self.cpus else "local[*]"

    @staticmethod
    def from_env(env: dict[str, str] | None = None) -> "EngineConfig":
        """Build from environment with per-variable validation; a
        malformed value raises ValueError naming the variable."""
        e = os.environ if env is None else env

        def _int(name: str, default: int | None) -> int | None:
            raw = e.get(name, "")
            if raw == "":
                return default
            try:
                return int(raw)
            except ValueError as exc:
                raise ValueError(
                    f"{name} must be an integer, got {raw!r}"
                ) from exc

        cfg = EngineConfig(
            sf_dir=e.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
            cpus=_int("SPARK_GRAFT_CPUS", None),
        )
        # Validate the data dir only when SPARK_GRAFT_SF_DIR was set
        # explicitly: the machine-default path need not exist on hosts
        # that only run unit tests with injected env mappings.
        if "SPARK_GRAFT_SF_DIR" in e and not os.path.isdir(cfg.sf_dir):
            raise ValueError(
                f"SPARK_GRAFT_SF_DIR={cfg.sf_dir!r} is not a directory"
            )
        return cfg
