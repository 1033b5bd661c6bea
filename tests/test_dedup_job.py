"""The spark-submit entrypoint's command line (jobs/dedup_job.py)."""

from __future__ import annotations

import importlib.util
import os

import pytest

from comparador_de_registros_spark.plans.configs import DedupConfig

_JOB = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "jobs",
    "dedup_job.py",
)


@pytest.fixture(scope="module")
def dedup_job():
    spec = importlib.util.spec_from_file_location("dedup_job", _JOB)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_cli_defaults_are_dedup_config_defaults(dedup_job):
    args = dedup_job.parse_args(["--input", "i", "--workdir", "w"])
    d = DedupConfig()
    assert args.shingle_k == d.shingle.k
    assert args.num_perm == d.minhash.num_perm
    assert args.bands == d.lsh.bands
    assert args.rows == d.lsh.rows
    assert args.jaccard == d.jaccard_threshold
    assert args.max_bucket == d.lsh.max_bucket_size


def test_cli_rejects_encode_ids(dedup_job):
    # the int64 id dictionary was retired; the flag is no longer accepted
    with pytest.raises(SystemExit):
        dedup_job.parse_args(["--input", "i", "--workdir", "w", "--encode-ids"])
