"""Environment preflight — the engine's analog of the reference's
``verify_bilingual_ocr.py`` (10 ordered checks, tri-state READY/WARNING/BROKEN
verdict, ``verify_bilingual_ocr.py:59-416``).

    python scripts/preflight.py [--with-spark]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OK, WARN, FAIL = "OK", "WARNING", "BROKEN"


def check_python():
    v = sys.version_info
    return (OK, f"python {v.major}.{v.minor}.{v.micro}") if v >= (3, 10) else (
        FAIL, f"python {v.major}.{v.minor} < 3.10"
    )


def check_deps():
    msgs = []
    for mod in ("pyspark", "pandas", "pyarrow", "duckdb", "pytest"):
        try:
            m = __import__(mod)
            msgs.append(f"{mod}={getattr(m, '__version__', '?')}")
        except ImportError:
            return FAIL, f"missing {mod}"
    return OK, " ".join(msgs)


def check_java():
    home = os.environ.get("JAVA_HOME", "")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return OK, f"JAVA_HOME={home}"
    import shutil

    return (OK, "java on PATH") if shutil.which("java") else (FAIL, "no java")


def check_extraction_core():
    from extraction import extract_document

    r = extract_document(
        "probe",
        b"<p>This probe paragraph easily passes the minimum length filter.</p>",
        "en",
    )
    if r.status == "ok" and r.n_kept == 1 and r.extracted_text:
        return OK, f"single-doc oracle ok ({r.n_kept} block)"
    return FAIL, f"unexpected oracle result: {r}"


def check_fixture_determinism():
    from fixtures.gen_pages import compute_goldens, gen_rows

    a = compute_goldens(gen_rows(8, seed=42))
    b = compute_goldens(gen_rows(8, seed=42))
    return (OK, "fixtures deterministic") if a == b else (FAIL, "nondeterministic fixtures")


def check_testdata():
    missing = [
        sf for sf in ("sf0.001", "sf0.01", "sf0.1")
        if not os.path.exists(f"/root/testdata/{sf}/documents.parquet")
    ]
    if not missing:
        return OK, "driver testdata present"
    return WARN, f"missing testdata: {missing} (driver checks will skip)"


def check_iceberg():
    import os
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    minicat = os.path.join(repo, "dist", "minicat.jar")
    if os.path.exists(minicat):
        # validate the jar actually carries the catalog class — a stale or
        # corrupt jar would make get_spark register a catalog that fails at
        # first use while this check claimed MERGE support
        try:
            with zipfile.ZipFile(minicat) as zf:
                ok_jar = "minicat/MiniCatalog.class" in zf.namelist()
        except zipfile.BadZipFile:
            ok_jar = False
        if ok_jar:
            return OK, (
                "no Iceberg runtime jar; dist/minicat.jar well-formed — "
                "get_spark registers the DSv2 catalog and MERGE INTO "
                "execution is covered by tests/test_tableio_minicat.py; "
                "parquet fallback remains the path-based default"
            )
        return WARN, (
            "dist/minicat.jar present but missing minicat/MiniCatalog.class "
            "— rebuild with scripts/build_minicat.sh"
        )
    return WARN, (
        "no Iceberg runtime jar and no dist/minicat.jar (run "
        "scripts/build_minicat.sh) — parquet-fallback TableIO only"
    )


def check_mediadec():
    import os
    import zipfile

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    jar = os.path.join(repo, "dist", "mediadec.jar")
    if os.path.exists(jar):
        try:
            with zipfile.ZipFile(jar) as zf:
                ok_jar = "mediadec/MediaCodec.class" in zf.namelist()
        except zipfile.BadZipFile:
            ok_jar = False
        if ok_jar:
            return OK, (
                "dist/mediadec.jar well-formed — JVM-native media decode "
                "(javax.imageio/javax.sound) registers via "
                "engine.multimodal.register_jvm_media"
            )
        return WARN, (
            "dist/mediadec.jar present but missing mediadec/MediaCodec.class "
            "— rebuild with scripts/build_mediadec.sh"
        )
    return WARN, (
        "no dist/mediadec.jar (run scripts/build_mediadec.sh) — media decode "
        "falls back to the pure-Python oracle path only"
    )


def check_worker_pyspark():
    """What a local session's Python daemon imports, decided by
    ``engine.pydaemon`` itself from Spark's worker path; starts no Spark."""
    import pyspark

    from engine import pydaemon

    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    launch = pydaemon.decide(pydaemon.spark_pythonpath(home), sys.path)
    if launch.compiles:
        return WARN, (
            "workers compile pyspark.zip at every daemon start, about 1.2 s "
            f"({launch.reason})"
        )
    return OK, launch.reason


def check_spark_session():
    from pyspark.sql import functions as F

    from engine.session import get_spark

    spark = get_spark(app_name="preflight", master="local[2]")
    n = spark.range(10).agg(F.sum("id")).collect()[0][0]
    arrow = spark.conf.get("spark.sql.execution.arrow.pyspark.enabled")
    spark.stop()
    if n == 45 and arrow == "true":
        return OK, "spark local session + arrow ok"
    return FAIL, f"spark sanity failed (sum={n}, arrow={arrow})"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--with-spark", action="store_true",
                    help="also spin up a local SparkSession (slow)")
    args = ap.parse_args()

    checks = [
        ("python version", check_python),
        ("dependencies", check_deps),
        ("java", check_java),
        ("extraction core", check_extraction_core),
        ("fixture determinism", check_fixture_determinism),
        ("driver testdata", check_testdata),
        ("iceberg runtime", check_iceberg),
        ("mediadec jar", check_mediadec),
        ("worker pyspark", check_worker_pyspark),
    ]
    if args.with_spark:
        checks.append(("spark session", check_spark_session))

    worst = OK
    for name, fn in checks:
        try:
            status, msg = fn()
        except Exception as exc:  # noqa: BLE001
            status, msg = FAIL, f"{type(exc).__name__}: {exc}"
        print(f"[{status:7s}] {name}: {msg}")
        if status == FAIL or (status == WARN and worst == OK):
            worst = status if status == FAIL or worst != FAIL else worst

    verdict = {"OK": "READY", "WARNING": "READY (with warnings)", "BROKEN": "BROKEN"}[worst]
    print(f"\nVERDICT: {verdict}")
    sys.exit(0 if worst != FAIL else 1)


if __name__ == "__main__":
    main()
