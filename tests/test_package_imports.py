"""Every module in the package imports: a kept module that still imports a
deleted one fails here, even when no other test reaches it. No Spark."""

import importlib
import pkgutil

import msi_preprocessing_pipeline_spark as pkg


def test_every_package_module_imports():
    names = [m.name for m in pkgutil.walk_packages(pkg.__path__,
                                                   prefix=pkg.__name__ + ".")]
    assert len(names) > 50
    for name in names:
        importlib.import_module(name)
