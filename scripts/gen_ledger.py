"""Generate the per-query certification ledger (VERDICT r08 §next 2).

Emits LEDGER.json + LEDGER.md at the repo root from the two sources of
truth — the live registry (``sparkstreamingproject_spark.queries``) and
the driver's CORRECTNESS_r*.json files — so coverage counts are never
hand-maintained again. Also rewrites the generated-count lines in
SCALE.md and README.md between ``<!-- ledger:... -->`` markers.

Per registry entry:
  name, implementing file:line, oracle-backed?, tags,
  first round driver-certified green, last driver round + status,
  position in the current driver window (or blank).

Usage:  python scripts/gen_ledger.py
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from sparkstreamingproject_spark import queries as qmod  # noqa: E402
from sparkstreamingproject_spark.queries import REGISTRY  # noqa: E402


def _driver_history() -> dict[str, dict]:
    """name -> {first_green: rN|None, last_round: rN, last_status}."""
    hist: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = re.search(r"CORRECTNESS_(r\d+)\.json$", path).group(1)
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            green = bool(row.get("rows_match") and row.get("schema_match")
                         and row.get("hash_match") and not row.get("err"))
            h = hist.setdefault(name, {"first_green": None,
                                       "last_round": None,
                                       "last_status": None})
            if green and h["first_green"] is None:
                h["first_green"] = rnd
            h["last_round"] = rnd
            h["last_status"] = "green" if green else "red"
    return hist


def _current_window() -> list[str]:
    """The live driver window. Read directly, so a renamed or missing
    ``_CURRENT_WINDOW`` fails loudly instead of reporting window_size 0.
    """
    return list(qmod._CURRENT_WINDOW)


def build() -> dict:
    window = _current_window()
    winpos = {n: i for i, n in enumerate(window)}
    hist = _driver_history()
    entries = []
    for name, spec in REGISTRY.items():
        fn = inspect.unwrap(spec.fn)
        src = os.path.relpath(inspect.getsourcefile(fn), ROOT)
        line = inspect.getsourcelines(fn)[1]
        h = hist.get(name, {})
        entries.append({
            "name": name,
            "impl": f"{src}:{line}",
            "oracle": spec.oracle is not None,
            "tags": list(spec.tags),
            "first_green": h.get("first_green"),
            "last_round": h.get("last_round"),
            "last_status": h.get("last_status"),
            "window_pos": winpos.get(name),
        })
    certified = sum(1 for e in entries if e["first_green"])
    summary = {
        "registered": len(entries),
        "oracle_backed": sum(1 for e in entries if e["oracle"]),
        "driver_certified": certified,
        "never_driver_checked": sum(
            1 for e in entries if e["last_round"] is None),
        "currently_red": sum(
            1 for e in entries if e["last_status"] == "red"),
        "window_size": len(window),
    }
    return {"summary": summary, "queries": entries}


def _patch_between(path: str, key: str, text: str) -> bool:
    """Replace content between <!-- ledger:key --> ... <!-- /ledger:key -->."""
    with open(path) as f:
        body = f.read()
    pat = re.compile(
        rf"(<!-- ledger:{key} -->).*?(<!-- /ledger:{key} -->)", re.S)
    new, n = pat.subn(rf"\g<1>{text}\g<2>", body)
    if n:
        with open(path, "w") as f:
            f.write(new)
    return bool(n)


def main() -> None:
    ledger = build()
    s = ledger["summary"]
    with open(os.path.join(ROOT, "LEDGER.json"), "w") as f:
        json.dump(ledger, f, indent=1)
        f.write("\n")

    lines = [
        "# LEDGER — per-query certification state (GENERATED)",
        "",
        "Generated by `scripts/gen_ledger.py` from the live registry and",
        "the driver's `CORRECTNESS_r*.json` ledgers. Do not hand-edit —",
        "rerun the script.",
        "",
        f"**{s['registered']} registered · {s['oracle_backed']} "
        f"oracle-backed · {s['driver_certified']} driver-certified green · "
        f"{s['never_driver_checked']} awaiting first driver check · "
        f"{s['currently_red']} currently red**",
        "",
        "| # | query | impl | oracle | first green | last check | window |",
        "|---|---|---|---|---|---|---|",
    ]
    for i, e in enumerate(ledger["queries"]):
        last = (f"{e['last_round']} {e['last_status']}"
                if e["last_round"] else "—")
        win = str(e["window_pos"]) if e["window_pos"] is not None else ""
        lines.append(
            f"| {i} | `{e['name']}` | `{e['impl']}` | "
            f"{'yes' if e['oracle'] else 'no'} | "
            f"{e['first_green'] or '—'} | {last} | {win} |")
    with open(os.path.join(ROOT, "LEDGER.md"), "w") as f:
        f.write("\n".join(lines) + "\n")

    counts = (f"{s['registered']} registered queries, "
              f"{s['oracle_backed']} oracle-backed, "
              f"{s['driver_certified']} driver-certified green")
    patched = []
    for path, key in ((os.path.join(ROOT, "SCALE.md"), "counts"),
                      (os.path.join(ROOT, "README.md"), "counts")):
        if os.path.exists(path) and _patch_between(path, key, counts):
            patched.append(os.path.basename(path))
    print(json.dumps({"summary": s, "patched": patched}))


if __name__ == "__main__":
    main()
