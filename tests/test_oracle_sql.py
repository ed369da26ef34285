"""Oracle SQL text is a pure function of its arguments: the same bytes in
every process, whatever the interpreter's string-hash seed."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RENDER = """
import sys
from deces_dataprep_spark.index.query import duckdb_boolean_topk_sql
sys.stdout.write(duckdb_boolean_topk_sql(
    ["merge sort join hash table", "data index"],
    should=["spark row column page", "query plan"],
    must_not=["dup"], minimum_should_match=1))
"""


def _render(seed: str) -> bytes:
    env = dict(os.environ, PYTHONHASHSEED=seed, PYTHONPATH=ROOT)
    return subprocess.run([sys.executable, "-c", RENDER], env=env,
                          cwd=ROOT, check=True,
                          capture_output=True).stdout


def test_boolean_oracle_sql_stable_across_hash_seeds():
    texts = {_render(seed) for seed in ("0", "1", "4242")}
    assert len(texts) == 1
    assert b"merge" in texts.pop()
