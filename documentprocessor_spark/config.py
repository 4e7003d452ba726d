"""File-driven job configuration: a nested defaults dict + YAML/JSON
override file with recursive merge.

Mirrors the reference's configuration manager
(``/root/reference/Ocr/src/config.py:13-97`` — ``DEFAULT_CONFIG``,
``load_config``, ``_merge_configs``, ``save_config``; the same shape the C#
layer reads via ``Data/OcrConfiguration.cs``): an optional user file whose
keys override defaults key-by-key — nested dicts merge recursively,
scalars/lists REPLACE — and a missing or unparseable file falls back to
defaults with a warning rather than failing the job (reference behavior: a
deployment with a stale config path must still run; the explicit CLI flags
stay authoritative above both).

The keys are this engine's knobs, not the reference's (no Paddle/torch in a
Spark cluster image): ``job`` routing (format, mode, buckets, resume,
debug_samples), ``extraction`` kernel options (entry_c quirk twin,
apply_quality and its H10/H11 settings min_confidence and verify_totals)
and the ``model`` (name_or_path, type, device). Spark settings are not
keys: they come from the launcher (``spark-submit --conf``), and
extract_job refuses a file with a ``session`` block. Run counts are not a
key either: every run_job reports them, observed on the plan it runs.
"""

from __future__ import annotations

import copy
import json
import logging
from pathlib import Path
from typing import Any, Dict, Optional

logger = logging.getLogger(__name__)


DEFAULT_CONFIG: Dict[str, Any] = {
    "job": {
        "format": "parquet",      # parquet | warc | pdf-dir
        "mode": "heuristic",      # heuristic | model
        "buckets": 64,            # url-hash result partitions
        "resume": True,           # skip manifest-committed urls
        "debug_samples": 0,       # >0: write N-row per-stage debug samples
    },
    "extraction": {
        "entry_c": False,         # entry-C quirk-compatible kernel twin
        # reference postprocessing.min_confidence / verify_totals
        # (config.py:40-43) — H11 confidence filter and H10 totals check.
        # Applied only when apply_quality is true: the reference DEFINES
        # them but leaves them out of its default output path (SURVEY
        # §8.7), so they stay opt-in here too.
        "apply_quality": False,
        "min_confidence": 0.5,
        "verify_totals": True,
    },
    "model": {
        # sandbox stub registry names; on a real cluster these become HF
        # ids. name_or_path is validated against the M8 allow-list at job
        # start (fail fast, reference commands.py:476-494) and the device
        # is resolved driver-side; the stub forward pass itself is
        # deterministic regardless.
        "name_or_path": "stub-token-classifier",
        "type": "layoutlmv3",     # donut | idefics2 | layoutlmv3
        "device": "auto",
    },
}


def merge_configs(base: Dict[str, Any], override: Dict[str, Any]) -> Dict[str, Any]:
    """Recursively merge ``override`` into ``base`` (override wins).

    Reference semantics (``config.py:81-97``): when both sides hold a dict
    the merge recurses; any other pairing — scalar over dict, dict over
    scalar, list over list — REPLACES. Neither input is mutated, and the
    RESULT shares no structure with either input — a caller mutating the
    merged config (the save_config 'effective config' flow does) must
    never corrupt the process-global DEFAULT_CONFIG through an aliased
    nested dict (the reference's shallow .copy() has exactly that bug;
    deliberately not reproduced)."""
    result = {}
    for key, value in base.items():
        if key in override and isinstance(value, dict) and isinstance(override[key], dict):
            result[key] = merge_configs(value, override[key])
        else:
            result[key] = copy.deepcopy(value)
    for key, value in override.items():
        if not (key in base and isinstance(base[key], dict) and isinstance(value, dict)):
            result[key] = copy.deepcopy(value)
    return result


def load_config(config_path: Optional[str] = None) -> Dict[str, Any]:
    """Defaults merged with an optional YAML or JSON override file.

    Reference semantics (``config.py:49-78``): no path, a missing file, or
    an unparseable file all yield the defaults (with a logged warning for
    the error case) — never an exception; an empty file is a no-op
    override."""
    config = merge_configs(DEFAULT_CONFIG, {})
    if config_path and Path(config_path).exists():
        try:
            text = Path(config_path).read_text()
            if config_path.endswith(".json"):
                user_config = json.loads(text) if text.strip() else None
            else:
                import yaml

                user_config = yaml.safe_load(text)
            if user_config is not None:
                if not isinstance(user_config, dict):
                    raise TypeError(
                        f"config root must be a mapping, got {type(user_config).__name__}"
                    )
                config = merge_configs(config, user_config)
                logger.info("Loaded configuration from %s", config_path)
        except Exception as e:  # noqa: BLE001 — reference behavior: warn + defaults
            logger.error("Failed to load config from %s: %s", config_path, e)
            logger.info("Using default configuration")
    else:
        logger.info("Using default configuration")
    return config


def save_config(config: Dict[str, Any], output_path: str) -> None:
    """Write a config dict back out (YAML unless the path says .json) —
    the reference's ``save_config`` (``config.py:100-113``), used to
    materialize the effective merged config next to a job's output."""
    p = Path(output_path)
    if output_path.endswith(".json"):
        p.write_text(json.dumps(config, indent=2, sort_keys=False) + "\n")
    else:
        import yaml

        p.write_text(yaml.dump(config, default_flow_style=False, sort_keys=False))
    logger.info("Configuration saved to %s", output_path)
