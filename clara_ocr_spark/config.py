"""Job configuration — the ``checkvar name=value`` CLI surface
(clara.c:1855-1990) for the rule-chain thresholds (-P thresholds
clara.c:1749, magic alignment numbers build.c:62-79) as one explicit
dataclass.

Defaults reproduce the byte-identity reference semantics exactly;
``pipeline.extract(cfg=…)`` reads them, and ``extract_job --set``
overrides them by name.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

from .extract_rules import LINK_DENSITY_MAX, MIN_TEXT_LEN


class SetOverrides:
    """The ``--set name=value`` parser shared by the job config
    dataclasses (``ExtractConfig`` and ``curate.CurateConfig``)."""

    @classmethod
    def from_args(cls, pairs: list[str]):
        """checkvar-style ``name=value`` overrides. An unknown name, a
        value the field's type cannot parse, or a combination the
        dataclass rejects raises ValueError."""
        kw = {}
        types = {f.name: f.type for f in fields(cls)}
        for p in pairs:
            name, _, value = p.partition("=")
            if name not in types:
                raise ValueError(f"unknown config var: {name}")
            kw[name] = (float if types[name] == "float" else int)(value)
        return cls(**kw)


@dataclass(frozen=True)
class ExtractConfig(SetOverrides):
    link_density_max: float = LINK_DENSITY_MAX  # ≈ avoid_geo cutoff
    min_text_len: int = MIN_TEXT_LEN  # ≈ sdim size gate (clara.c:1557)


DEFAULT = ExtractConfig()
