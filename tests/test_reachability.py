"""Every package def that nothing the system runs reaches is on a keep
list with a decided fate.

``tools/reachability.py`` walks the AST from the registered queries, the
entry points and ``plans/pipeline.run_pipeline`` and prints the top-level
defs it never reaches. ``KEEP`` below mirrors ROADMAP item 4's keep
list, one ``module.def`` per entry. A change that strands a def, or that
deletes or adopts one without updating this list, fails here.
"""

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

KEEP = {
    # Adopt or delete in item 1 (program-owned decode): the magic-byte
    # dispatch and the FLAC and Vorbis decoders it calls.
    "operators.multimodal.decode_audio_bytes",
    "operators.multimodal.decode_media",
    "operators.flac._make_crc8_table",
    "operators.flac._make_crc16_table",
    "operators.flac.crc8",
    "operators.flac.crc16",
    "operators.flac._BitReader",
    "operators.flac._read_utf8_number",
    "operators.flac._decode_residual",
    "operators.flac._decode_subframe",
    "operators.flac._parse_streaminfo",
    "operators.flac.decode_flac_bytes",
    "operators.vorbis._ogg_crc",
    "operators.vorbis.ogg_pages",
    "operators.vorbis.ogg_packets",
    "operators.vorbis._Lsb",
    "operators.vorbis.ilog",
    "operators.vorbis.float32_unpack",
    "operators.vorbis.assign_codewords",
    "operators.vorbis._lookup1_values",
    "operators.vorbis.Codebook",
    "operators.vorbis.parse_codebook",
    "operators.vorbis.Floor1",
    "operators.vorbis._low_neighbor",
    "operators.vorbis._high_neighbor",
    "operators.vorbis._render_point",
    "operators.vorbis._render_line",
    "operators.vorbis.Residue",
    "operators.vorbis._SetupBooksRef",
    "operators.vorbis.Mapping",
    "operators.vorbis.Mode",
    "operators.vorbis.VorbisSetup",
    "operators.vorbis.parse_ident",
    "operators.vorbis.parse_setup",
    "operators.vorbis._dct_iv",
    "operators.vorbis.imdct",
    "operators.vorbis.vorbis_window",
    "operators.vorbis._Lap",
    "operators.vorbis.decode_audio_packet",
    "operators.vorbis.decode_vorbis_bytes",
    # Adopt or delete in item 5, once the episodes workload shows
    # whether scheduling long files first earns its keep.
    "sources.audio.longest_first_hint",
    # Adopt in item 5 (the per-stage run report).
    "plans.incremental.stage_counters",
    # Adopt or delete in item 9 (one canonical sample rate).
    "operators.multimodal.decode_media_at_sr",
    "ml.dsp.resample",
    # Keep while the FLAC and Vorbis decoders stay: the encoders make
    # the decoder tests' inputs (item 8).
    "operators.flac._BitWriter",
    "operators.flac._utf8_number_bytes",
    "operators.flac._zigzag",
    "operators.flac._rice_param",
    "operators.flac._write_residual",
    "operators.flac._fixed_residual",
    "operators.flac._encode_subframe",
    "operators.flac.encode_flac_bytes",
    "operators.vorbis._ogg_page",
    "operators.vorbis._LsbWriter",
    "operators.vorbis.float32_pack",
    "operators.vorbis.mdct",
    "operators.vorbis._enc_ident",
    "operators.vorbis._enc_comment",
    "operators.vorbis._enc_setup",
    "operators.vorbis._floor_q_for_peak",
    "operators.vorbis.encode_vorbis",
    "operators.vorbis._enc_ident_mixed",
    "operators.vorbis._enc_setup_mixed",
    "operators.vorbis.encode_vorbis_mixed",
    "operators.vorbis._couple_forward",
    "operators.vorbis._enc_setup_coupled",
    "operators.vorbis.encode_vorbis_coupled",
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
