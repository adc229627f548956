"""Externalized gate thresholds (configs/pipeline_config.yml).

Pure Python, no Spark. The YAML file is the ops source of truth; the
dataclass defaults must mirror it so config-less library use behaves
identically.
"""

from __future__ import annotations

import os

import pytest

from instacart_medallion_lakehouse_spark import quality

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONFIG = os.path.join(REPO_ROOT, "configs", "pipeline_config.yml")


class TestGateThresholdsFromYaml:
    def test_repo_config_matches_defaults(self):
        assert quality.GateThresholds.from_yaml(CONFIG) == quality.DEFAULT_THRESHOLDS

    def test_override(self, tmp_path):
        p = tmp_path / "cfg.yml"
        p.write_text("quality_thresholds:\n  duplicate_rate: 0.5\n")
        t = quality.GateThresholds.from_yaml(str(p))
        assert t.duplicate_rate == 0.5
        assert t.null_rate_default == quality.DEFAULT_THRESHOLDS.null_rate_default

    def test_unknown_key_fails_fast(self, tmp_path):
        p = tmp_path / "cfg.yml"
        p.write_text("quality_thresholds:\n  nul_rate_default: 0.5\n")
        with pytest.raises(ValueError, match="nul_rate_default"):
            quality.GateThresholds.from_yaml(str(p))

    @pytest.mark.parametrize(
        "line, key",
        [
            ("duplicate_rate: yes", "duplicate_rate"),
            ("duplicate_rate: false", "duplicate_rate"),
            ("null_rate_default:", "null_rate_default"),
            ("reconcile_drift: high", "reconcile_drift"),
            ("referential_integrity: [0.0]", "referential_integrity"),
        ],
    )
    def test_non_number_names_the_key(self, tmp_path, line, key):
        p = tmp_path / "cfg.yml"
        p.write_text(f"quality_thresholds:\n  {line}\n")
        with pytest.raises(ValueError, match=f"quality_thresholds.{key} "):
            quality.GateThresholds.from_yaml(str(p))

    def test_exponent_string_loads(self, tmp_path):
        # PyYAML's YAML 1.1 resolver reads 1e-3 (no dot) as a string
        p = tmp_path / "cfg.yml"
        p.write_text("quality_thresholds:\n  reconcile_drift: 1e-3\n")
        assert quality.GateThresholds.from_yaml(str(p)).reconcile_drift == 0.001

    def test_empty_file_gives_defaults(self, tmp_path):
        p = tmp_path / "cfg.yml"
        p.write_text("")
        assert quality.GateThresholds.from_yaml(str(p)) == quality.DEFAULT_THRESHOLDS


class TestEmptySection:
    def test_present_but_null_section_means_defaults(self, tmp_path):
        from instacart_medallion_lakehouse_spark.quality import (
            DEFAULT_THRESHOLDS,
            GateThresholds,
        )

        p = tmp_path / "cfg.yml"
        p.write_text("quality_thresholds:\n# all thresholds commented out\n")
        assert GateThresholds.from_yaml(str(p)) == DEFAULT_THRESHOLDS
