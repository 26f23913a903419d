"""Every package def that nothing the system runs reaches is on a keep
list with a decided fate.

``tools/reachability.py`` walks the AST from the registered queries, the
entry points and ``plans/pipeline.run_pipeline`` and prints the top-level
defs it never reaches. ``KEEP`` below mirrors ROADMAP item 8's keep
list, one ``module.def`` per entry. A change that strands a def, or that
deletes or adopts one without updating this list, fails here.
"""

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

KEEP = {
    # Adopt or delete in item 2 (program-owned decode).
    "operators.multimodal.decode_media",
    # Adopt or delete in item 5, once the episodes workload shows
    # whether scheduling long files first earns its keep.
    "sources.audio.longest_first_hint",
    # Adopt in item 2 (the per-stage run report).
    "plans.incremental.stage_counters",
    # Adopt or delete in item 9 (one canonical sample rate).
    "operators.multimodal.decode_media_at_sr",
    "ml.dsp.resample",
    # Keep: reached at run time through stubs.load_backend("cluster",
    # "dbscan"), which a static walk cannot follow.
    "ml.clustering._pairwise_sq_dists",
    "ml.clustering.dbscan",
    "ml.clustering.rescue_noise",
    "ml.clustering.cluster_embeddings",
}


def unreached_defs() -> set[str]:
    out = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "reachability.py"), str(ROOT)],
        check=True,
        capture_output=True,
        text=True,
    ).stdout.splitlines()
    found, module = set(), None
    for line in out[:-1]:
        if line.startswith("  "):
            found.add(f"{module}.{line.split()[0]}")
        else:
            module = line.rstrip(":")
    assert out[-1].startswith(f"{len(found)} unreached top-level defs"), out[-1]
    return found


def test_every_unreached_def_is_on_the_keep_list():
    unreached = unreached_defs()
    stranded = sorted(unreached - KEEP)
    assert not stranded, "unreached and not on KEEP"
    stale = sorted(KEEP - unreached)
    assert not stale, "on KEEP but reached or deleted"
