"""Engine layout rules, checked statically with ``ast``: each operator
has one implementation in the engine, parity references live under
``tests/reference/``, and engine code never imports test code."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
ENGINE_DIRS = ("pdf_to_text_extraction_service_spark", "jobs")

#: parity references that live in tests/reference/<module>.py
MOVED = {
    "neardup": ("word_shingles", "shingle_hashes", "minhash_signature",
                "minhash_signature_udf", "shingle_hash_ids_udf",
                "simhash64", "sim_token_hashes", "simhash64_udf"),
    "textstats": ("lang_id_jvm", "doc_fingerprint_jvm"),
    "ivf": ("train_kmeans_reference",),
    "similarity": ("cosine_exact_pd",),
    "imgcodec": ("_gif_lzw_decode_ref",),
    "dedup": ("dedup_latest_window",),
}
#: deleted: no caller anywhere
DELETED = ("scrub_pii_sql", "_count_garbage", "is_space", "_idct2",
           "salt_repartition")
#: one-row-in, one-row-out Python hops that run through the one
#: batch loop, functions/rowmap.map_rows
ROW_MAPPED = {
    "pdf_to_text_extraction_service_spark/functions/multimodal.py": (
        "image_features", "resize_images", "image_dhash",
        "video_signatures", "audio_features", "flac_decode_features",
        "mp3_features", "audio_tag_metadata", "png_text_metadata",
        "mp4_features", "container_audio_features",
        "image_breadth_features", "video_container_features",
        "media_features", "exif_features", "gif_animation_features"),
    "pdf_to_text_extraction_service_spark/functions/ocr.py": (
        "ocr_clean_results", "transcript_results"),
    "pdf_to_text_extraction_service_spark/operators/pagestats.py": (
        "pdf_image_ocr_stats",),
}


def _engine_files():
    files = sorted(p for d in ENGINE_DIRS for p in (ROOT / d).rglob("*.py"))
    assert files
    return files


def _defined_names(tree: ast.AST) -> set[str]:
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            names.update(t.id for t in targets if isinstance(t, ast.Name))
    return names


def _imported_top_levels(tree: ast.AST) -> set[str]:
    tops = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            tops.update(a.name.split(".")[0] for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module \
                and node.level == 0:
            tops.add(node.module.split(".")[0])
    return tops


def test_engine_imports_no_test_code():
    offenders = {}
    for path in _engine_files():
        tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
        bad = _imported_top_levels(tree) & {"tests", "reference"}
        if bad:
            offenders[str(path.relative_to(ROOT))] = sorted(bad)
    assert offenders == {}


def test_moved_and_deleted_names_not_in_engine():
    banned = {n for names in MOVED.values() for n in names} | set(DELETED)
    assert len(banned) == 19
    found = {}
    for path in _engine_files():
        tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
        for name in _defined_names(tree) & banned:
            found.setdefault(name, []).append(
                str(path.relative_to(ROOT)))
    assert found == {}


def test_parity_references_live_in_tests_reference():
    for module, names in MOVED.items():
        path = ROOT / "tests" / "reference" / f"{module}.py"
        tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
        assert set(names) <= _defined_names(tree), module


def _called_names(tree: ast.AST) -> set[str]:
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            func = node.func
            names.add(func.attr if isinstance(func, ast.Attribute)
                      else getattr(func, "id", None))
    return names


def test_row_mapped_operators_share_one_batch_loop():
    assert sum(len(names) for names in ROW_MAPPED.values()) == 19
    for rel, names in ROW_MAPPED.items():
        tree = ast.parse((ROOT / rel).read_text(encoding="utf-8"), rel)
        defs = {node.name: node for node in tree.body
                if isinstance(node, ast.FunctionDef)}
        for name in names:
            calls = _called_names(defs[name])
            assert "mapInPandas" not in calls, name
            assert "map_rows" in calls, name
