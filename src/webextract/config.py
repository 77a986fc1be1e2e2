"""Config system: YAML-per-component files → one validated pipeline config.

Mirrors the reference's config architecture (``config/config_loader.py:58-108``
and the ``base_*_config.py`` filename conventions: each component owns one
YAML file in the config directory, missing file raises, empty file → defaults)
re-targeted at Spark job parameters instead of thread-pool knobs:

- ``extractor.yaml``     — heuristic thresholds (link density, min chars)
- ``orchestrator.yaml``  — partitioning: n_buckets, waves, salt
                           (replaces the reference's max_workers=4 /
                           max_concurrency=10, which tuned its thread pool —
                           ``config/extraction_orchestrator_config.py:13-21``)
- ``evaluation.yaml``    — metric list, length tolerance

Unknown keys raise (Pydantic strict), matching the reference's eager
validation stance (``types/document.py:70-82``).
"""

from __future__ import annotations

import os

import yaml
from typing import ClassVar

from pydantic import BaseModel, ConfigDict, Field


class ExtractorConfig(BaseModel):
    model_config = ConfigDict(extra="forbid")
    link_density_max: float = Field(default=0.5, ge=0.0, le=1.0)
    min_chars_linked: int = Field(default=25, ge=0)

    FILENAME: ClassVar[str] = "extractor.yaml"


class OrchestratorConfig(BaseModel):
    model_config = ConfigDict(extra="forbid")
    n_buckets: int = Field(default=64, ge=1)
    waves: int = Field(default=1, ge=1)
    salt: int = 0x5EED

    FILENAME: ClassVar[str] = "orchestrator.yaml"


class EvaluationConfig(BaseModel):
    model_config = ConfigDict(extra="forbid")
    metrics: list[str] = Field(default_factory=lambda: [
        "exact_match", "len_ratio_ok", "similarity", "span_count_match"])
    len_tolerance: float = Field(default=0.02, ge=0.0)

    FILENAME: ClassVar[str] = "evaluation.yaml"


class PipelineConfig(BaseModel):
    model_config = ConfigDict(extra="forbid")
    extractor: ExtractorConfig = Field(default_factory=ExtractorConfig)
    orchestrator: OrchestratorConfig = Field(default_factory=OrchestratorConfig)
    evaluation: EvaluationConfig = Field(default_factory=EvaluationConfig)


def _load_yaml(path: str) -> dict:
    """Missing file raises; empty file → {} (reference config_loader.py:38-55)."""
    if not os.path.exists(path):
        raise FileNotFoundError(f"config file not found: {path}")
    with open(path) as f:
        data = yaml.safe_load(f)
    return data or {}


def load_pipeline_config(config_dir: str, *, require_all: bool = False) -> PipelineConfig:
    """Assemble the pipeline config from per-component YAML files.

    ``require_all=False`` (default) lets absent files fall back to defaults —
    the pragmatic mode for tests; ``require_all=True`` reproduces the
    reference's missing-file-raises contract for production runs.
    """
    sections = {}
    for name, cls in (("extractor", ExtractorConfig),
                      ("orchestrator", OrchestratorConfig),
                      ("evaluation", EvaluationConfig)):
        path = os.path.join(config_dir, cls.FILENAME)
        if os.path.exists(path) or require_all:
            sections[name] = cls(**_load_yaml(path))
    return PipelineConfig(**sections)
