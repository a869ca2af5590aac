"""Every annotation in the package resolves.

Modules use ``from __future__ import annotations``, so an annotation that
names something the module never imports only fails when a tool asks for
the hints (``typing.get_type_hints``, docs builders, runtime validators).
"""

from __future__ import annotations

import importlib
import inspect
import pkgutil
import typing

import tsrollup


def _defined_functions():
    """(qualified name, function) for every function and method defined in
    a tsrollup module."""
    for info in pkgutil.iter_modules(tsrollup.__path__):
        mod = importlib.import_module(f"tsrollup.{info.name}")
        for name, obj in vars(mod).items():
            if getattr(obj, "__module__", None) != mod.__name__:
                continue
            if inspect.isfunction(obj):
                yield f"{mod.__name__}.{name}", obj
            elif inspect.isclass(obj):
                for mname, m in vars(obj).items():
                    if inspect.isfunction(m):
                        yield f"{mod.__name__}.{name}.{mname}", m


def test_every_annotation_resolves():
    fns = list(_defined_functions())
    assert len(fns) > 100
    bad = []
    for qual, fn in fns:
        try:
            typing.get_type_hints(fn)
        except Exception as e:  # noqa: BLE001
            bad.append(f"{qual}: {e!r}")
    assert not bad, bad
