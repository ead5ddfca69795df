"""The ``--set name=value`` config surface shared by the extraction
and curation jobs."""

from __future__ import annotations

import pytest

from clara_ocr_spark.config import ExtractConfig
from clara_ocr_spark.curate import CurateConfig


def test_config_from_args_roundtrip():
    cfg = ExtractConfig.from_args(["min_text_len=20", "link_density_max=0.4"])
    assert cfg.min_text_len == 20 and cfg.link_density_max == 0.4
    cur = CurateConfig.from_args(
        ["min_tokens=7", "jaccard_tau=0.8", "line_dedup_min_df=3",
         "line_dedup_per_host=1"]
    )
    assert (cur.min_tokens, cur.jaccard_tau) == (7, 0.8)
    assert (cur.line_dedup_min_df, cur.line_dedup_per_host) == (3, 1)
    assert CurateConfig.from_args([]) == CurateConfig()
    for cls in (ExtractConfig, CurateConfig):
        with pytest.raises(ValueError, match="unknown config var: nope"):
            cls.from_args(["nope=1"])
    # a combination the dataclass rejects is the same ValueError
    with pytest.raises(ValueError, match="line_dedup_min_df"):
        CurateConfig.from_args(["line_dedup_per_host=1"])
