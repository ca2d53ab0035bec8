"""Every operator fallback is picked by its input, never by its caller:
no public function in ``operators/`` or ``sources/`` takes an
implementation switch, and no public twin (``*_kernel``, ``*_portable``)
stands beside the operator it would duplicate."""

from __future__ import annotations

import importlib
import inspect
import pkgutil

import datapipelineetl_spark.operators as operators
import datapipelineetl_spark.sources as sources


def _public_functions():
    for pkg in (operators, sources):
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            for name, fn in inspect.getmembers(mod, inspect.isfunction):
                if fn.__module__ == mod.__name__ and not name.startswith("_"):
                    yield f"{mod.__name__}.{name}", fn


def test_no_public_implementation_switch():
    found = [
        (name, p)
        for name, fn in _public_functions()
        for p in inspect.signature(fn).parameters
        if p in ("impl", "verify_impl")
    ]
    assert not found


def test_no_public_twin():
    found = [name for name, _ in _public_functions()
             if name.endswith(("_kernel", "_portable"))]
    assert not found


def test_walk_sees_every_module():
    names = {name for name, _ in _public_functions()}
    assert "datapipelineetl_spark.operators.text.bpe_segment" in names
    assert "datapipelineetl_spark.sources.meascollec.read_meascollec" in names
