"""The engine is laid out by domain: every operator key lives in the
module its prefix names, and engine/ holds exactly the domain modules
plus the support modules, so a new operator lands in its domain module."""

from __future__ import annotations

import os

import engine
from engine.registry import collect

DOMAINS = {
    "aggs": "agg udaf pivot unpivot",
    "functions": "fn udf udtf",
    "windows": "win",
    "relational": "join filter project sort limit topk set subq sample",
    "fileio": "scan sink",
    "tpch": "tpch",
    "sql": "sql plan",
    "etl": "etl data",
    "streaming": "stream",
    "text": "text doc",
    "dedup": "dedup",
    "vectors": "emb sim graph",
    "multimodal": "multimodal",
    "pipeline": "pipeline",
}
SUPPORT = {"__init__", "cache", "registry", "session", "tables", "tmpdirs"}
MODULE_OF_PREFIX = {p: m for m, ps in DOMAINS.items() for p in ps.split()}


def test_every_key_lives_in_its_domain_module():
    queries, _ = collect()
    misplaced = {
        key: fn.__wrapped__.__module__
        for key, fn in queries.items()
        if fn.__wrapped__.__module__ != f"engine.{MODULE_OF_PREFIX.get(key.split('_')[0])}"
    }
    assert misplaced == {}


def test_engine_holds_exactly_the_domain_and_support_modules():
    files = {f for f in os.listdir(os.path.dirname(engine.__file__)) if f.endswith(".py")}
    assert files == {f"{m}.py" for m in set(DOMAINS) | SUPPORT}
