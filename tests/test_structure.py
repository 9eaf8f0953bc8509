"""Structure guards: the checkpoint/resume policy lives in runner.py only.

Kernels cut their iteration state through ``runner.Checkpoints``. A module
that picks its own default checkpointer, falls back with ``checkpointer or
...``, or reads ``.latest_iteration()`` / ``.checkpointer`` off a store
regrows a private copy of the policy, and the copies drift.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "linkgraph"
POLICY = PACKAGE / "runner.py"


def _policy_sites(path: Path) -> list[str]:
    sites = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        where = f"{path.relative_to(PACKAGE.parent)}:{getattr(node, 'lineno', 0)}"
        if isinstance(node, ast.FunctionDef) and "checkpointer" in node.name:
            sites.append(f"{where} defines {node.name}")
        elif isinstance(node, ast.Attribute) and node.attr in (
            "latest_iteration",
            "checkpointer",
        ):
            sites.append(f"{where} reads .{node.attr}")
        elif (
            isinstance(node, ast.BoolOp)
            and isinstance(node.op, ast.Or)
            and isinstance(node.values[0], ast.Name)
            and node.values[0].id == "checkpointer"
        ):
            sites.append(f"{where} falls back from checkpointer")
    return sites


def test_guard_sees_the_policy_in_runner():
    found = " ".join(_policy_sites(POLICY))
    assert "defines checkpointer" in found
    assert "reads .latest_iteration" in found
    assert "reads .checkpointer" in found


def test_only_runner_owns_checkpoint_policy():
    modules = sorted(PACKAGE.rglob("*.py"))
    assert len(modules) > 20
    sites = [s for m in modules if m != POLICY for s in _policy_sites(m)]
    assert sites == []
