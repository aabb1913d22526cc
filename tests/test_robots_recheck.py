"""Governance recheck: corpus vs current robots rules, spark-submit."""

import os
import shutil
import subprocess
import time

import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_robots_recheck_job(tmp_path):
    zipf = shutil.make_archive(
        str(tmp_path / "pkg"), "zip", REPO, "hquery_php_spark"
    )
    docs = tmp_path / "docs.parquet"
    pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "url": [
                "https://a.com/keep/1",
                "https://a.com/gone/2",
                "https://b.com/3",
                "https://c.com/norules",
            ],
        }
    ).to_parquet(docs)
    robots = tmp_path / "robots.parquet"
    pd.DataFrame(
        {
            "host": ["a.com", "b.com"],
            "robots_txt": [
                "User-agent: *\nDisallow: /gone/\n",
                "User-agent: *\nDisallow: /\n",
            ],
        }
    ).to_parquet(robots)
    denied = tmp_path / "denied.parquet"
    r = subprocess.run(
        ["spark-submit", "--master", "local[2]", "--py-files", zipf,
         os.path.join(REPO, "jobs", "robots_recheck_job.py"),
         "--docs", str(docs), "--robots", str(robots),
         "--out-denied", str(denied)],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = pd.read_parquet(denied)
    assert sorted(got["doc_id"]) == [2, 3]
