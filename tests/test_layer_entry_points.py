"""The traced benchmark run (perfbench/spans.py:patch_layers) wraps
engine entry points by replacing module attributes.  An entry point
renamed, moved or bound by name elsewhere would silently make its
traced layer read 0; these checks catch that without a Spark session."""

from __future__ import annotations

import importlib
import importlib.util
import os
import pkgutil
import sys

import streaming_forex_data_pipeline_spark as pkg


def _layer_entry_points() -> dict:
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "perfbench",
        "spans.py",
    )
    spec = importlib.util.spec_from_file_location("perfbench_spans", path)
    spans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(spans)
    return spans.LAYER_ENTRY_POINTS


def test_layer_entry_points_resolve():
    for span, (mod_name, attrs, _) in _layer_entry_points().items():
        mod = importlib.import_module(mod_name)
        for attr in attrs:
            assert callable(getattr(mod, attr, None)), f"{span}: {mod_name}.{attr}"


def test_no_module_binds_an_entry_point_at_import():
    """A module-level ``from <module> import <entry point>`` keeps the
    unwrapped function, so that module's calls would go untraced."""
    for _, name, _ in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        importlib.import_module(name)
    for span, (mod_name, attrs, _) in _layer_entry_points().items():
        home = importlib.import_module(mod_name)
        for attr in attrs:
            fn = getattr(home, attr)
            bound = [
                name
                for name, mod in sorted(sys.modules.items())
                if name.startswith(pkg.__name__)
                and mod is not home
                and getattr(mod, attr, None) is fn
            ]
            assert not bound, f"{span}: {mod_name}.{attr} bound in {bound}"
