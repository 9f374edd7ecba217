"""Structural guard (no Spark): audio is decoded in ONE place.

`bdqc_spark/functions/audio.py` holds the Arrow kernel every audio
operator runs through. A generator anywhere else that walks Arrow
binary buffers (`_binary_buffers`) or decodes a payload slice
(`decode_arrow_slice`) is a copy of that kernel, unless CHANGES.md
names it as a deliberate exception (by its dotted qualified name,
e.g. `bdqc_spark.functions.segment._segment_arrow.run`).
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "bdqc_spark"
KERNEL = PKG / "functions" / "audio.py"
WALK_NAMES = {"_binary_buffers", "decode_arrow_slice"}


def _own_nodes(fn: ast.AST):
    """Nodes of `fn`'s body, not descending into nested defs/lambdas."""
    stack = list(ast.iter_child_nodes(fn))
    while stack:
        node = stack.pop()
        yield node
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)):
            stack.extend(ast.iter_child_nodes(node))


def _calls_walk(fn: ast.AST) -> bool:
    for node in _own_nodes(fn):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name in WALK_NAMES:
                return True
    return False


def walking_generators(source: str, module: str) -> list[str]:
    """Dotted names of the generators in `source` that call a walk name."""
    found = []

    def visit(node, qual):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                q = f"{qual}.{child.name}"
                if not isinstance(child, ast.ClassDef):
                    is_gen = any(isinstance(n, (ast.Yield, ast.YieldFrom)) for n in _own_nodes(child))
                    if is_gen and _calls_walk(child):
                        found.append(q)
                visit(child, q)
            else:
                visit(child, qual)

    visit(ast.parse(source), module)
    return found


def _module_name(path: Path) -> str:
    return ".".join(path.relative_to(REPO).with_suffix("").parts)


def test_detector_finds_a_copied_walker():
    src = (
        "def op(clips):\n"
        "    def run(batches):\n"
        "        for b in batches:\n"
        "            offsets, data = _binary_buffers(b.column(0))\n"
        "            yield b\n"
        "    return run\n"
        "def not_a_generator(b):\n"
        "    return decode_arrow_slice(b, 0, 1, 'ulaw')\n"
    )
    assert walking_generators(src, "m") == ["m.op.run"]


def test_audio_is_decoded_only_in_the_kernel():
    changes = (REPO / "CHANGES.md").read_text()
    copies = []
    for path in sorted(PKG.rglob("*.py")):
        if path == KERNEL:
            continue
        for gen in walking_generators(path.read_text(), _module_name(path)):
            if f"`{gen}`" not in changes:
                copies.append(gen)
    assert not copies, (
        f"{copies} walk Arrow audio buffers outside functions/audio.py: "
        "port them to functions.audio.signal_pass, or name them in "
        "CHANGES.md as exceptions with the reason"
    )


def test_binary_buffers_defined_once():
    defs = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        defs += [
            _module_name(path)
            for node in ast.walk(tree)
            if isinstance(node, ast.FunctionDef) and node.name == "_binary_buffers"
        ]
    assert defs == ["bdqc_spark.functions.audio"]
