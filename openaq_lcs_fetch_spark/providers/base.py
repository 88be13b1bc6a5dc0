"""Provider protocol + dispatch (SURVEY.md §2.10, §3.1).

Lifecycle mirror of the reference's ``providers.processor``
(providers.js:37-51): validate config → (secrets merge happens
out-of-band, S6) → dispatch to the provider pipeline → sinks → run log.
Everything between scan and sink is one Spark logical plan — the "IR"
is Catalyst's, not ours (SURVEY.md §3.2).
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..config import validate_source_config

REGISTRY: dict[str, "Provider"] = {}


def register(cls):
    """Class decorator ≙ the dynamic require of fetcher/providers/*
    (providers.js:26-30)."""
    inst = cls()
    REGISTRY[inst.name] = inst
    return cls


class Provider(ABC):
    """config in → (measures, stations) DataFrames out.

    measures schema: MEASUREMENT_FLAGGED (schemas.py); stations schema:
    STATION. Both are *plans* — nothing executes until a sink runs —
    except where both derive from one remote fetch: then ``process``
    fetches once, eagerly (``localCheckpoint``, as ``MobileProvider``
    does), so the two sinks read the same pages.
    """

    name: str = "abstract"

    @abstractmethod
    def process(
        self, spark: SparkSession, config: dict[str, Any]
    ) -> tuple[DataFrame, DataFrame]: ...


def processor(
    spark: SparkSession, config: dict[str, Any]
) -> tuple[DataFrame, DataFrame]:
    """Validated dispatch (fetcher/index.js:24-29 → providers.js:37-51)."""
    validate_source_config(config)
    name = config["provider"]
    if name not in REGISTRY:
        raise KeyError(f"no provider registered for {name!r}; have {sorted(REGISTRY)}")
    return REGISTRY[name].process(spark, config)
