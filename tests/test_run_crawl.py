"""spark-submit CLI surface (streaming/run_crawl.py): flags mirror
CrawlConfig, a run emits per-round metrics JSON + a summary line, and
--resume continues from the newest snapshot."""

from __future__ import annotations

import json
import os

import pytest

from webcrawl_lowres_lang_spark.streaming.crawler import CrawlConfig
from webcrawl_lowres_lang_spark.streaming.run_crawl import build_parser, main


def test_parser_defaults_mirror_config():
    args = build_parser().parse_args(["--checkpoint", "/tmp/x"])
    cfg = CrawlConfig()
    import dataclasses

    for f in dataclasses.fields(CrawlConfig):
        assert getattr(args, f.name) == getattr(cfg, f.name), f.name


def test_cli_run_and_resume(spark, tmp_path, capsys):
    ck = str(tmp_path / "ck_cli")
    base = [
        "--checkpoint", ck, "--rounds", "1", "--n-urls", "600",
        "--n-pages", "60", "--n-hosts", "20", "--validate-pixels", "false",
    ]
    assert main(base) == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    summary = lines[-1]["summary"]
    assert summary["rounds"] == 1 and summary["urls_fetched"] > 0
    rounds = [x for x in lines if "round" in x]
    assert len(rounds) == 1 and rounds[0]["round"] == 0
    # resume one extra round from the snapshot
    assert main(["--checkpoint", ck, "--resume", "--extra-rounds", "1"]) == 0
    lines2 = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    s2 = lines2[-1]["summary"]
    assert s2["rounds"] == 2
    # the committed seen filter was loaded, not rebuilt from url_seen
    assert s2["filter_restore"] == "snapshot"
    assert [x["filter_restore"] for x in lines2 if "round" in x] == ["snapshot"]
    assert s2["urls_fetched"] >= summary["urls_fetched"]
    assert s2["urls_seen"] >= summary["urls_seen"]


def test_spark_submit_py_files(tmp_path):
    """The LITERAL north-rule deployment path: `spark-submit --py-files
    <zip>` with a driver script that imports the engine ONLY from the zip
    (cwd outside the repo, repo never on sys.path). Exercises package.py's
    artifact end-to-end: one crawl round, metrics JSON + summary line."""
    import json
    import shutil
    import subprocess
    import sys

    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(os.path.dirname(sys.executable)),
        "lib", "python3.11", "site-packages", "pyspark", "bin", "spark-submit",
    )
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit not on PATH")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, os.path.join(repo, "package.py")], check=True)
    zip_path = os.path.join(repo, "dist", "webcrawl_lowres_lang_spark.zip")
    driver = tmp_path / "submit_job.py"
    driver.write_text(
        "from webcrawl_lowres_lang_spark.streaming.run_crawl import main\n"
        "import sys\n"
        "sys.exit(main())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [
            spark_submit, "--master", "local[8]", "--py-files", zip_path,
            str(driver), "--checkpoint", str(tmp_path / "ck"), "--rounds", "1",
            "--n-urls", "500", "--n-pages", "50", "--n-hosts", "12",
            "--validate-pixels", "false",
        ],
        capture_output=True, text=True, timeout=400, cwd=str(tmp_path), env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = [json.loads(x) for x in out.stdout.strip().splitlines() if x.startswith("{")]
    assert lines[-1]["summary"]["urls_fetched"] > 0
    assert lines[0]["round"] == 0 and lines[0]["partitions"]
