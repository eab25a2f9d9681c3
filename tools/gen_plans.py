#!/usr/bin/env python
"""Regenerate plans/shapes.json, the physical-plan shape of every
registered query (one line per query).  Run from the repo root:

    python tools/gen_plans.py

Each query is built (not executed) on the test suite's session
(``tests.conftest.SESSION`` over ``SF_DIR``) and its formatted plan is
reduced by ``shape_of`` to:

- ``ops``: count of every physical operator, by name;
- ``scans``: per file scan, the file basename plus its ReadSchema,
  PushedFilters, PartitionFilters, PushedAggregation and Bucketed
  lines;
- ``exchanges``: each Exchange's partitioning and shuffle origin;
- ``joins``: strategy, join type, keys and residual condition;
- ``windows``: each Window's partition keys;
- ``funcs``: the functions the plan's expressions call (pushed-down
  source filters are already in ``scans``).

Expression ids, ``plan_id``s and hex scratch tags are stripped, hash
partitioning keys are sorted and only the initial adaptive plan is
kept, so the file does not depend on build order or on what ran
before.  ``test_query_output_schema_is_scalar_only`` renders the same
plan for every query and fails with a one-line diff per changed field
(``q3_shipping_priority: BroadcastHashJoin 2 -> 1``).  A plan change is:
run this script, review ``git diff plans/shapes.json``, commit.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LEDGER = os.path.join(REPO, "plans", "shapes.json")

_HEADER_RE = re.compile(r"^\((\d+)\) (.+)$")
_EXPR_ID_RE = re.compile(r"#\d+L?")
_PLAN_ID_RE = re.compile(r",? \[plan_id=\d+\]")
_GEN_ALIAS_RE = re.compile(r"(_gen_alias_)\d+")
_HEX_TAG_RE = re.compile(r"_[0-9a-f]{10,12}$")
_FUNC_RE = re.compile(r"(?<![\w$.])([A-Za-z_]\w*)\(")
_SCAN_FIELDS = (
    "ReadSchema",
    "PushedFilters",
    "PartitionFilters",
    "PushedAggregation",
    "Bucketed",
)


def formatted_plan(df) -> str:
    """The formatted physical plan that ``df.explain("formatted")``
    prints, as a string."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
    return df._jdf.queryExecution().explainString(mode.fromString("formatted"))


def _clean(text: str) -> str:
    text = _PLAN_ID_RE.sub("", _EXPR_ID_RE.sub("", text))
    return _GEN_ALIAS_RE.sub(r"\1", text)


def split_args(args: str) -> list[str]:
    """Split on ', ' outside parentheses and brackets."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(args):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0 and args[i + 1:i + 2] == " ":
            out.append(args[start:i])
            start = i + 2
    out.append(args[start:])
    return out


def _op_name(header: str) -> str:
    name = header.split(" [", 1)[0].strip()
    words = name.split()
    if words[0] in ("Scan", "BatchScan"):
        return " ".join(words[:2])
    return name


def _partitioning(args: str) -> str:
    parts = split_args(args)
    part = parts[0]
    m = re.match(r"hashpartitioning\((.*)\)$", part)
    if m:
        keys = split_args(m.group(1))
        part = f"hashpartitioning({', '.join(sorted(keys[:-1]) + keys[-1:])})"
    return ", ".join([part] + parts[1:])


def _file_names(location: str) -> list[str]:
    paths = re.findall(r"file:([^,\]\s]+)", location)
    return [
        _HEX_TAG_RE.sub("", os.path.basename(p.rstrip("/"))) for p in paths
    ]


def _initial_plan_ids(trees: list[str]) -> set[str]:
    """Operator ids in the plan trees outside any ``== Final Plan ==``
    section.  An adaptive plan that has already run (a cached relation
    materialized at construction time, or by an earlier query) prints
    its final plan next to the initial one; the shape keeps only the
    initial plan, so it does not depend on what ran before."""
    ids, final_col = set(), None
    for tree in trees:
        for ln in tree.splitlines():
            col = len(ln) - len(ln.lstrip(" :|+-"))
            body = ln[col:]
            if final_col is not None and (
                col < final_col
                or (col == final_col and body.startswith("== Initial Plan"))
            ):
                final_col = None
            if body.startswith("== Final Plan"):
                final_col = col
            elif final_col is None and not body.startswith("Subquery:"):
                m = re.search(r"\((\d+)\)", body)
                if m:
                    ids.add(m.group(1))
    return ids


def shape_of(plan: str) -> dict:
    """Reduce a formatted physical plan to its order-independent shape."""
    ops: Counter = Counter()
    scans, exchanges, joins, windows = [], [], [], []
    funcs: set[str] = set()
    blocks = [b.strip("\n").splitlines() for b in plan.split("\n\n")]
    blocks = [lines for lines in blocks if lines]
    heads = [_HEADER_RE.match(lines[0]) for lines in blocks]
    initial = _initial_plan_ids(
        ["\n".join(lines) for lines, h in zip(blocks, heads) if h is None]
    )
    for lines, head in zip(blocks, heads):
        if head is None or head.group(1) not in initial:
            continue
        name = _op_name(head.group(2))
        ops[name] += 1
        fields = {}
        for ln in lines[1:]:
            key, sep, value = ln.partition(": ")
            if sep:
                fields[key.strip()] = _clean(value.strip())
            if not ln.startswith(("Location", "PushedFilters")):
                funcs.update(_FUNC_RE.findall(ln))
        if "Location" in fields:
            scan = {"file": ", ".join(_file_names(fields["Location"]))}
            scan.update((k, fields[k]) for k in _SCAN_FIELDS if k in fields)
            scans.append(scan)
        elif name == "Exchange":
            exchanges.append(_partitioning(fields["Arguments"]))
        elif name.endswith("Join"):
            # "Left keys [n]: [...]" / "Right keys [n]: [...]"
            keys = {k.split(" [")[0]: v for k, v in fields.items()}
            left = keys.get("Left keys", "")
            right = keys.get("Right keys", "")
            join = f"{name} {fields.get('Join type', '')}"
            if left:
                join += f" {left} = {right}"
            cond = fields.get("Join condition", "None")
            if cond != "None":
                join += f" if {cond}"
            joins.append(join)
        elif name == "Window":
            # [functions], [partition keys], [order keys]; an empty key
            # list is not printed, and order keys carry ASC/DESC
            keys = [
                arg
                for arg in split_args(fields["Arguments"])[1:]
                if not re.search(r" (ASC|DESC) NULLS", arg)
            ]
            windows.append(keys[0] if keys else "[]")
    return {
        "ops": dict(sorted(ops.items())),
        "scans": sorted(scans, key=lambda s: json.dumps(s, sort_keys=True)),
        "exchanges": sorted(exchanges),
        "joins": sorted(joins),
        "windows": sorted(windows),
        "funcs": sorted(funcs),
    }


def diff_shape(name: str, old: dict, new: dict) -> list[str]:
    """One line per changed field: an operator count as ``old -> new``,
    a list field as the entries only the old side has ``->`` the
    entries only the new side has."""
    lines = []
    old_ops, new_ops = old.get("ops", {}), new.get("ops", {})
    for op in sorted(set(old_ops) | set(new_ops)):
        a, b = old_ops.get(op, 0), new_ops.get(op, 0)
        if a != b:
            lines.append(f"{name}: {op} {a} -> {b}")
    for field in ("scans", "exchanges", "joins", "windows", "funcs"):
        a = Counter(json.dumps(v, sort_keys=True) for v in old.get(field, []))
        b = Counter(json.dumps(v, sort_keys=True) for v in new.get(field, []))
        if a != b:
            gone = ", ".join(sorted((a - b).elements()))
            came = ", ".join(sorted((b - a).elements()))
            lines.append(f"{name}: {field} [{gone}] -> [{came}]")
    return lines


def diff_names(recorded, registered) -> list[str]:
    """One line per query missing from, or extra in, the ledger."""
    recorded, registered = set(recorded), set(registered)
    return [
        f"{n}: registered but has no line in plans/shapes.json"
        for n in sorted(registered - recorded)
    ] + [
        f"{n}: has a line in plans/shapes.json but is not registered"
        for n in sorted(recorded - registered)
    ]


def load_shapes() -> dict:
    with open(LEDGER) as f:
        return json.load(f)


def dump_shapes(shapes: dict) -> str:
    """One JSON object, one line per query, sorted by query name."""
    rows = [
        f"{json.dumps(name)}: {json.dumps(shapes[name], sort_keys=True)}"
        for name in sorted(shapes)
    ]
    return "{\n" + ",\n".join(rows) + "\n}\n"


def build_shapes(spark, sf_dir: str, names) -> dict:
    import __spark_entry__ as entry

    queries = entry.queries()
    return {
        name: shape_of(formatted_plan(queries[name](spark, sf_dir)))
        for name in names
    }


def main() -> None:
    sys.path.insert(0, REPO)
    import __spark_entry__ as entry
    from stac_geoparquet_spark.session import get_spark
    from tests.conftest import SESSION, SF_DIR

    spark = get_spark(**SESSION)
    spark.sparkContext.setLogLevel("ERROR")
    shapes = build_shapes(spark, SF_DIR, list(entry.queries()))
    spark.stop()
    with open(LEDGER, "w") as f:
        f.write(dump_shapes(shapes))
    print(f"wrote {os.path.relpath(LEDGER, REPO)}: {len(shapes)} queries")


if __name__ == "__main__":
    main()
