"""kenlm_spark/native.py: the one loader for the package's C kernels."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import shutil
import subprocess
import sys

import pytest

PKG = pathlib.Path(__file__).parent.parent / "kenlm_spark"


def _loads_or_compiles(tree: ast.AST) -> list[str]:
    """Names of the ways ``tree`` loads a shared library or starts a
    process (the compiler runs through one of the latter)."""
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found += [a.name for a in node.names if a.name == "subprocess"]
        elif isinstance(node, ast.ImportFrom) and node.module == "subprocess":
            found.append("subprocess")
        elif isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(
                f, "id", None
            )
            owner = getattr(getattr(f, "value", None), "id", None)
            if name in ("CDLL", "PyDLL", "LoadLibrary") or (
                owner == "os"
                and name.startswith(("system", "popen", "spawn", "exec"))
            ):
                found.append(name)
    return found


def test_native_is_the_only_module_that_loads_c():
    offenders = {}
    for path in sorted(PKG.rglob("*.py")):
        found = _loads_or_compiles(ast.parse(path.read_text()))
        if found and path.name != "native.py":
            offenders[str(path.relative_to(PKG))] = found
    assert not offenders
    loader = _loads_or_compiles(ast.parse((PKG / "native.py").read_text()))
    assert {"subprocess", "CDLL"} <= set(loader)


@pytest.mark.skipif(
    not any(shutil.which(c) for c in ("cc", "gcc", "clang", "g++")),
    reason="no C compiler available",
)
def test_concurrent_first_load_gets_the_library(tmp_path):
    """Eight threads released together into a cold cache (fresh TMPDIR,
    so the first call compiles) must all get both kernels: a thread
    that saw the build in progress used to get the fallback, which
    NGramModel then kept for the life of the process."""
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    env.pop("KENLM_SPARK_NATIVE", None)
    code = (
        "import json, threading\n"
        "from kenlm_spark.functions import md5_kernel\n"
        "from kenlm_spark.ngram import native_kernel\n"
        "gate = threading.Barrier(8)\n"
        "got = []\n"
        "def probe():\n"
        "    gate.wait()\n"
        "    got.append([native_kernel.load() is not None,"
        " md5_kernel.load() is not None])\n"
        "ts = [threading.Thread(target=probe) for _ in range(8)]\n"
        "[t.start() for t in ts]\n"
        "[t.join(120) for t in ts]\n"
        "assert not any(t.is_alive() for t in ts)\n"
        "print(json.dumps(got))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=PKG.parent, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == [[True, True]] * 8
