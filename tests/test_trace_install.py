"""perfbench's traced pass patches the package by name: the stubs, the
operators where the stages import them and where they are defined, the
audio scans and the incremental runner. Installing its wrappers must
find every one of those names, and restoring must put every patched
name back."""

import importlib

from perfbench import trace

PACKAGE = "speech_data_pipeline_spark"


def module_dicts():
    names = ["ml.stubs", "plans.stages", "plans.incremental", "plans.pipeline", "sources.audio"]
    names += [f"operators.{m}" for m in set(trace.OPERATORS.values())]
    return {n: vars(importlib.import_module(f"{PACKAGE}.{n}")) for n in names}


def test_trace_install_patches_every_name_and_restore_puts_them_back():
    before = {n: dict(d) for n, d in module_dicts().items()}
    restore = trace.install(trace.Tracer())
    try:
        patched = {
            (n, k) for n, d in module_dicts().items() for k, v in d.items()
            if v is not before[n].get(k)
        }
    finally:
        restore()
    want = {("ml.stubs", attr) for attr in trace.STUBS.values()}
    want |= {("plans.stages", attr) for attr in trace.OPERATORS}
    want |= {(f"operators.{m}", attr) for attr, m in trace.OPERATORS.items()}
    want |= {("sources.audio", a) for a in ("scan_audio_dir", "scan_reference_voiceprints")}
    want |= {("plans.incremental", "pending"), ("plans.pipeline", "run_incremental_stage")}
    assert patched == want
    after = module_dicts()
    for n, d in before.items():
        assert all(after[n][k] is v for k, v in d.items()), n
