"""The decoder family's one payload stage (operators/records.py)."""

import ast
import pathlib
import re

OPS = pathlib.Path(__file__).resolve().parents[1] / "geist_spark" / "operators"
DECODERS = ("msgpack.py", "pbwire.py", "tomlsub.py", "plistfile.py",
            "yamlsub.py", "records.py")
# every public decoder with the two-tier on_unsupported contract (the
# record decoders without a capability tier included), by module
FAMILY = {
    "multimodal.py": (
        "frame_sample_real", "resize_real", "decode_real", "exif_extract",
        "strip_metadata", "mp4_probe", "ogg_probe", "webp_probe",
        "flac_probe", "id3_extract", "mkv_probe", "media_probe",
        "audio_envelope_fingerprint", "riff_info_extract",
        "decode_audio_real", "audio_dsp_features", "image_dhash",
    ),
    "avro.py": ("avro_records", "avro_info"),
    "emailmsg.py": ("email_parse",),
    "office.py": ("office_extract_text",),
    "pdf.py": ("pdf_extract_text",),
    "prep.py": ("decompress_text", "archive_list", "archive_extract_text"),
    "sqlitefile.py": ("sqlite_tables", "sqlite_rows"),
    "web.py": ("warc_parse", "decode_text"),
    "msgpack.py": ("mp_decode_records",),
    "pbwire.py": ("pb_decode_records",),
    "tomlsub.py": ("toml_records",),
    "plistfile.py": ("plist_records",),
    "yamlsub.py": ("yaml_records",),
}
# Arrow stages outside the contract: the deterministic plumbing stubs
OTHER_STAGES = {
    "multimodal.py": {"extract_media_features", "resize_stub", "embed_stub"},
    "records.py": {"payload_stage"},
}


def test_one_records_stage():
    """Spark-free: the five record decoders share records_stage's one
    mapInPandas, and YAML parses on libyaml, not a line walker; the
    whole decoder family's Arrow loop and on_unsupported check live
    in the stage module alone."""
    src = {name: (OPS / name).read_text() for name in DECODERS}
    calls = {n: s.count("mapInPandas(") for n, s in src.items()}
    assert calls == {n: int(n == "records.py") for n in DECODERS}, calls
    for name in DECODERS[:-1]:
        assert "records_stage(" in src[name], name
    yaml_src = src["yamlsub.py"]
    assert re.search(r"^import yaml$", yaml_src, re.M)
    assert "CSafeLoader" in yaml_src
    assert "_Lines" not in yaml_src
    # the whole family: one stage module owns mapInPandas and the
    # on_unsupported check, and every decoder goes through it
    assert sum(len(v) for v in FAMILY.values()) == 34
    policy_text = sum(
        p.read_text().count("on_unsupported must be") for p in OPS.glob("*.py")
    )
    assert policy_text == 1, policy_text
    stage_call = re.compile(r"\b(payload_stage|records_stage|_run_probe)\(")
    for name in (*FAMILY, "records.py"):
        funcs = _functions(OPS / name)
        stages = {f for f, body in funcs.items() if "mapInPandas(" in body}
        assert stages == OTHER_STAGES.get(name, set()), (name, stages)
        for dec in FAMILY.get(name, ()):
            assert stage_call.search(funcs[dec]), dec
    assert "payload_stage(" in _functions(OPS / "multimodal.py")["_run_probe"]
    assert "payload_stage(" in _functions(OPS / "records.py")["records_stage"]


def _functions(path: pathlib.Path) -> dict:
    """Top-level function name -> its source text."""
    text = path.read_text()
    return {
        node.name: ast.get_source_segment(text, node)
        for node in ast.parse(text).body
        if isinstance(node, ast.FunctionDef)
    }
