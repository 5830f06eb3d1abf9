"""The traced benchmark run wraps package functions by name
(``perfbench/tracing.WRAPPED``). A renamed or deleted target would only
fail there, at run time; this pins every target without starting Spark."""

from __future__ import annotations

import importlib

from perfbench import tracing


def test_every_wrapped_target_resolves():
    for group, (mod_name, fn_names) in tracing.WRAPPED.items():
        mod = importlib.import_module(f"{tracing.PACKAGE}.{mod_name}")
        for fn_name in fn_names:
            assert callable(getattr(mod, fn_name, None)), f"{group}: {mod_name}.{fn_name}"
