"""Config-driven SMT chains — the `transforms=a,b,c` property surface.

Reference: Kafka Connect transform chains as Debezium configures them
(debezium-embedded/.../Transformations.java:90-108 — named transforms
applied in declared order, each with its own `transforms.<name>.*` config,
optionally gated by predicates, Predicates.java:26).

Spark shape: each spec resolves to a DataFrame→DataFrame callable; the
chain is function composition, so Catalyst still sees one fused plan (no
materialization between steps). A transform builds its Columns on its
first batch and keeps them, so a stream of batches builds none after that.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Transform = Callable[[DataFrame], DataFrame]


def _mk_unwrap(cfg: dict) -> Transform:
    from debezium_spark.operators.unwrap import extract_new_record_state

    return lambda df: extract_new_record_state(
        df,
        delete_handling=cfg.get("delete.handling.mode", "drop"),
        add_fields=tuple(
            f for f in cfg.get("add.fields", "").split(",") if f
        ),
    )


def _mk_filter(cfg: dict) -> Transform:
    from debezium_spark.operators.filter import filter_records

    return lambda df: filter_records(df, cfg["condition"])


def _mk_skip_ops(cfg: dict) -> Transform:
    from debezium_spark.operators.filter import kept_operations

    ops = tuple(o for o in cfg.get("skipped.operations", "t").split(",") if o)
    keep = cache(lambda: kept_operations(ops))
    return lambda df: df.filter(keep())


def _mk_mask(cfg: dict) -> Transform:
    cols = [c for c in cfg["columns"].split(",") if c]
    mask = cfg.get("mask", "***")
    masked = cache(lambda: {c: F.lit(mask) for c in cols})
    return lambda df: df.withColumns(masked())


def _mk_route(cfg: dict) -> Transform:
    from debezium_spark.operators.route import content_based_router

    return lambda df: content_based_router(df, cfg["topic.expression"])


def _mk_timezone(cfg: dict) -> Transform:
    from debezium_spark.operators.timezone import convert_timezone_fields

    include = tuple(f for f in cfg.get("include.fields", "").split(",") if f)
    return lambda df: convert_timezone_fields(
        df, cfg["converted.timezone"], include=include
    )


_REGISTRY: dict[str, Callable[[dict], Transform]] = {
    "unwrap": _mk_unwrap,           # ExtractNewRecordState (T1)
    "filter": _mk_filter,           # scripting Filter (T4)
    "skip-ops": _mk_skip_ops,       # skipped.operations (T22)
    "mask": _mk_mask,               # MaskStrings (T17)
    "route": _mk_route,             # ContentBasedRouter (T5)
    "timezone": _mk_timezone,       # TimezoneConverter (T9)
}


def register_transform(name: str, factory: Callable[[dict], Transform]) -> None:
    """SPI: user-defined transform types (CustomConverter-style plug-in)."""
    _REGISTRY[name] = factory


def chain_from_config(config: dict) -> list[Transform]:
    """Parse `transforms=a,b` + `transforms.<name>.type` +
    `transforms.<name>.<key>` properties into an ordered callable chain."""
    names = [n.strip() for n in config.get("transforms", "").split(",") if n.strip()]
    chain: list[Transform] = []
    for name in names:
        prefix = f"transforms.{name}."
        cfg = {
            k[len(prefix):]: v for k, v in config.items() if k.startswith(prefix)
        }
        typ = cfg.pop("type", name)
        if typ not in _REGISTRY:
            raise ValueError(f"unknown transform type {typ!r} for {name!r}")
        chain.append(_REGISTRY[typ](cfg))
    return chain
