"""Every engine function the benchmark's traced run wraps must exist: a
missing one makes ``perfbench/run.py --trace 1`` fail with an
AttributeError. Read-only use of ``perfbench``."""

from perfbench import workloads as w


def test_traced_names_resolve():
    wanted = [(mod, fn) for mod, fns in w.MS_LAYERS.items() for fn in fns]
    wanted += [("plans.ingest", fn) for fn in w.INGEST_ENTRY]
    wanted += [("sources.io", fn) for fn in w.VERSIONED_IO]
    missing = [
        f"{mod}.{fn}" for mod, fn in wanted if not callable(getattr(w._module(mod), fn, None))
    ]
    assert missing == []
