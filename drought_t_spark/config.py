"""Engine configuration (SURVEY.md §1.1 row 5).

A single frozen dataclass threaded through plan builders. Config is
*code*, never data: scalars end up inlined as Catalyst literals so
ConstantFolding sees them.

Defaults are the fixture contract from FIXTURES.md §F3 (Fleig et al.
2006 definitions): centered MA W=29, exact percentile P=0.5 variable
threshold, IC pooling t_c=5 / p_c=0.1, exclusion d_min=3 /
s_min = 0.005·max-severity-per-site.
"""

from __future__ import annotations

import tomllib
from dataclasses import dataclass, replace
from dataclasses import fields as dataclass_fields
from typing import Literal, get_args, get_origin, get_type_hints

#: bucket width per tier in seconds (month is calendar-varying; the
#: gap-fill operator uses calendar intervals, never this constant)
TIER_SECONDS: dict[str, int] = {"hour": 3600, "day": 86400}


@dataclass(frozen=True)
class EngineConfig:
    # --- smoothing (W1) ---
    ma_window: int = 29          # centered moving-average width (odd, buckets)

    # --- threshold (TH1/TH2) ---
    threshold_pct: float = 0.5   # exact percentile level P in [0,1]
    threshold_mode: Literal["variable", "fixed"] = "variable"

    # --- pooling (PL1), Fleig et al. 2006 §3.2 ---
    pooling: Literal["none", "ic"] = "ic"
    pool_tc: int = 5             # max inter-event buckets to pool
    pool_pc: float = 0.1         # pool iff v_i <= pool_pc * s_i

    # --- minor-drought exclusion (EX1), Fleig et al. 2006 §3.3 ---
    min_duration: int = 3        # drop events with duration < d_min
    min_severity_frac: float = 0.005  # s_min = frac · max severity per site
    min_severity_abs: float | None = None  # absolute mode overrides frac

    # --- gap-fill (GF1) ---
    gap_fill_mode: Literal["none", "locf", "zero"] = "none"

    def __post_init__(self) -> None:
        # a mode the engine does not implement must not silently fall
        # back to another one — same reasoning as from_dict's key check
        for name, hint in get_type_hints(EngineConfig).items():
            allowed = get_args(hint) if get_origin(hint) is Literal else None
            if allowed and getattr(self, name) not in allowed:
                raise ValueError(f"{name}={getattr(self, name)!r}; allowed: {list(allowed)}")
        # the kernel's MA frame is ±(w // 2): an even w runs as w + 1, w < 1 as no MA
        if type(w := self.ma_window) is not int or w < 1 or w % 2 == 0:
            raise ValueError(f"ma_window={w!r}; must be a positive odd int")
        if type(p := self.threshold_pct) not in (int, float) or not 0 <= p <= 1:
            raise ValueError(f"threshold_pct={p!r}; must be in [0, 1]")

    def with_(self, **kw) -> "EngineConfig":
        return replace(self, **kw)

    @classmethod
    def from_dict(cls, d: dict) -> "EngineConfig":
        """Strict construction from a plain mapping (the reference's
        config is TOML parsed to a dict — SURVEY.md §3.1 #1). Unknown
        keys are an error, not a silent ignore: a typo'd threshold knob
        that falls back to the default produces wrong events with no
        trace, the worst failure mode a config can have."""
        fields = {f.name for f in dataclass_fields(cls)}
        unknown = set(d) - fields
        if unknown:
            raise ValueError(
                f"unknown config keys: {sorted(unknown)}; known: {sorted(fields)}"
            )
        return cls(**d)

    @classmethod
    def from_toml(cls, path: str) -> "EngineConfig":
        """Load the reference-style TOML config file. Keys may live at
        the top level or under a single `[drought]` table (both shapes
        appear in the reference's docs); a key set in BOTH places is
        rejected by the explicit overlap check below (ValueError naming
        the duplicated keys) rather than one location silently winning,
        and any remaining unknown key is rejected by from_dict."""
        with open(path, "rb") as f:
            raw = tomllib.load(f)
        table = raw.pop("drought", {})
        if not isinstance(table, dict):
            raise ValueError("[drought] must be a table")
        overlap = set(table) & set(raw)
        if overlap:
            raise ValueError(f"keys set both top-level and in [drought]: {sorted(overlap)}")
        return cls.from_dict({**table, **raw})


DEFAULT = EngineConfig()
