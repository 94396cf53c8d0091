"""LEDGER freshness guard: the generated per-query certification
ledger (LEDGER.json) must match the LIVE registry and the committed
driver ledgers — a registry change or a new CORRECTNESS_r*.json
committed without rerunning scripts/gen_ledger.py is exactly the
stale-count class the generator exists to kill (VERDICT r08 §2)."""

from __future__ import annotations

import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _gen_ledger():
    spec = importlib.util.spec_from_file_location(
        "gen_ledger", os.path.join(ROOT, "scripts", "gen_ledger.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_ledger_matches_live_registry():
    from sparkstreamingproject_spark.queries import REGISTRY

    with open(os.path.join(ROOT, "LEDGER.json")) as f:
        ledger = json.load(f)
    led_names = [e["name"] for e in ledger["queries"]]
    assert led_names == list(REGISTRY), (
        "LEDGER.json is stale — rerun scripts/gen_ledger.py "
        f"(ledger {len(led_names)} vs registry {len(REGISTRY)})")
    # the summary also follows the driver's CORRECTNESS_r*.json files
    assert ledger["summary"] == _gen_ledger().build()["summary"], (
        "LEDGER.json summary is stale — rerun scripts/gen_ledger.py")


def test_ledger_counts_patched_into_docs():
    with open(os.path.join(ROOT, "LEDGER.json")) as f:
        s = json.load(f)["summary"]
    needle = (f"{s['registered']} registered queries, "
              f"{s['oracle_backed']} oracle-backed")
    for doc in ("README.md", "SCALE.md"):
        with open(os.path.join(ROOT, doc)) as f:
            assert needle in f.read(), f"{doc} counts are stale"
