"""CLI integration (reference: /root/reference/tests/cli.rs)."""

import subprocess
import sys


def run_cli(args, stdin=""):
    return subprocess.run(
        [sys.executable, "-m", "heliport_spark", *args],
        input=stdin, capture_output=True, text=True, cwd="/root/repo",
    )


def test_identify_stdout_labels():
    p = run_cli(["identify"], stdin="Hola, ¿qué tal?\nhello world this is english\n")
    assert p.returncode == 0
    assert p.stdout.splitlines() == ["spa", "eng"]


def test_identify_scores_precision():
    p = run_cli(["identify", "-s"], stdin="Hola, ¿qué tal?\n")
    assert p.stdout.splitlines() == ["spa\t0.2340"]
    p2 = run_cli(["identify", "-s", "-p", "2"], stdin="Hola, ¿qué tal?\n")
    assert p2.stdout.splitlines() == ["spa\t0.23"]


def test_identify_ignore_confidence():
    p = run_cli(["identify", "-c"], stdin="hello\n")
    assert p.stdout.splitlines() == ["sah"]


def test_detect_alias():
    p = run_cli(["detect"], stdin="DOKUMENT INFORMACYJNY NR [...]\n")
    assert p.stdout.splitlines() == ["pol"]


def test_identify_parallel_matches_single_thread():
    """-j N output is byte-identical to the single-process path (reference
    -j threads, src/cli/identify.rs:20-33); small batches force >1 dispatch."""
    lines = [
        "Hola, ¿qué tal?",
        "hello world this is english",
        "DOKUMENT INFORMACYJNY NR",
        "das ist ein deutscher Satz über nichts",
        "ceci est une phrase française",
        "",
        "مرحبا بالعالم",
    ] * 3
    stdin = "".join(line + "\n" for line in lines)
    p1 = run_cli(["identify", "-s"], stdin=stdin)
    p4 = run_cli(["identify", "-s", "-j", "4", "-b", "2"], stdin=stdin)
    assert p1.returncode == 0 and p4.returncode == 0
    assert p4.stdout == p1.stdout
    assert len(p4.stdout.splitlines()) == len(lines)


def test_identify_not_strict_confidence():
    """-n/--not-strict parity (reference identify -n, src/cli/identify.rs:
    47-51): a confidenceThresholds override file missing one language fails
    the strict default load and passes under -n (missing lang → threshold 0,
    languagemodel.rs:214+). The override is written from the committed
    model's thresholds, so no reference model directory is needed."""
    import os
    import tempfile

    import numpy as np

    from heliport_spark.langs import LANGS, SPECIAL_MASK
    from heliport_spark.model import DEFAULT_MODEL_DIR

    src = str(DEFAULT_MODEL_DIR)
    with tempfile.TemporaryDirectory(prefix="hs_notstrict_") as d:
        for f in os.listdir(src):
            os.symlink(os.path.join(src, f), os.path.join(d, f))
        # the committed thresholds as a plain override file, minus one
        # language (repr of the f32 value parses back to the same f32)
        conf = np.load(os.path.join(src, "confidence.npy"))
        kept = [
            f"{lang}\t{float(conf[i])!r}"
            for i, lang in enumerate(LANGS)
            if not SPECIAL_MASK[i] and lang != "spa"
        ]
        assert len(kept) == int((~SPECIAL_MASK).sum()) - 1
        with open(os.path.join(d, "confidenceThresholds"), "w") as fh:
            fh.write("\n".join(kept) + "\n")
        strict = run_cli(["identify", "-m", d], stdin="Hola, ¿qué tal?\n")
        assert strict.returncode == 1
        assert "spa" in strict.stderr  # names the missing language
        relaxed = run_cli(["identify", "-n", "-m", d], stdin="Hola, ¿qué tal?\n")
        assert relaxed.returncode == 0
        assert relaxed.stdout.splitlines() == ["spa"]


def test_compile_model_refuses_overwrite_without_force():
    """binarize -f parity (/root/reference/src/cli/binarize.rs:13-29): the
    committed artifact exists, so compile-model must refuse without -f."""
    p = run_cli(["compile-model"])
    assert p.returncode == 1
    assert "already exists" in p.stderr and "--force" in p.stderr


def test_bad_subcommand():
    p = run_cli(["no-such-cmd"])
    assert p.returncode != 0
