"""YAML config with dot-notation access (X7, src/utils.py:50-114).

Same semantics: load YAML if present, fall back to defaults, dot-path
``get``. The reference's dead keys (pipeline.max_workers,
rate_limit_per_minute, enable_monitoring — grep-verified never read,
SURVEY.md §2.11) are intentionally dropped; a ``spark`` section names
the CLI session's app. Every leaf key here is read somewhere (a test
checks).
"""

from __future__ import annotations

from typing import Any

DEFAULTS: dict = {
    "warehouse": {"root": "data/warehouse"},
    "api": {
        "base_url": "https://jsonplaceholder.typicode.com",
        "timeout": 30,
        "retry_attempts": 3,
        "retry_delay": 5,
        "offline": True,
    },
    "files": {
        "input_dir": "data/input",
        "processed_dir": "data/processed",
    },
    "data_quality": {"quality_threshold": 80},
    "transformation": {
        "enable_cleaning": True,
        "enable_enrichment": True,
        "enable_standardization": True,
    },
    "spark": {"app_name": "scalable_data_ingestion_spark"},
}


def _deep_merge(base: dict, override: dict) -> dict:
    out = dict(base)
    for k, v in override.items():
        if isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k] = _deep_merge(out[k], v)
        else:
            out[k] = v
    return out


class Config:
    def __init__(self, path: str | None = None, overrides: dict | None = None):
        data = DEFAULTS
        if path:
            try:
                import yaml

                with open(path) as fh:
                    loaded = yaml.safe_load(fh) or {}
                data = _deep_merge(data, loaded)
            except FileNotFoundError:
                pass
            except ImportError:
                pass
        if overrides:
            data = _deep_merge(data, overrides)
        self._data = data

    def get(self, dotted: str, default: Any = None) -> Any:
        node: Any = self._data
        for part in dotted.split("."):
            if not isinstance(node, dict) or part not in node:
                return default
            node = node[part]
        return node
