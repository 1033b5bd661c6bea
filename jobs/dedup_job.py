#!/usr/bin/env python
"""spark-submit entrypoint for the transcript dedup pipeline.

Production shape (north_rule):

  spark-submit --py-files engine.zip jobs/dedup_job.py \\
      --input  <turns table path or catalog ident> \\
      --workdir <catalog base dir / namespace> \\
      --stage all|assemble|exact|sign|candidates|verify|cluster \\
      --resume

Each stage reads the previous checkpoint table and writes its own, so a
killed run restarts at the first incomplete stage; metrics land in the
``metrics`` table keyed by run id. On a real cluster pass an Iceberg
namespace via --iceberg instead of a parquet dir.
"""

from __future__ import annotations

import argparse
import sys
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# local-mode runs from a foreign cwd need the package on the Python
# workers' path too (cluster runs ship it via --py-files instead)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from comparador_de_registros_spark.conf import build_spark
from comparador_de_registros_spark.operators.pipeline import STAGES, DedupPipeline
from comparador_de_registros_spark.plans.configs import (
    DedupConfig,
    LshConfig,
    MinHashConfig,
    ShingleConfig,
)
from comparador_de_registros_spark.sources.catalog import (
    IcebergCatalog,
    ParquetCatalog,
)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="turns parquet path / table")
    p.add_argument("--workdir", required=True, help="checkpoint catalog base")
    p.add_argument("--iceberg", action="store_true", help="workdir is an Iceberg namespace")
    p.add_argument("--stage", default="all", help="all or a comma list of stages")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--run-id", default="run0")
    # defaults come from DedupConfig, the one place they are set
    d = DedupConfig()
    p.add_argument("--shingle-k", type=int, default=d.shingle.k)
    p.add_argument("--num-perm", type=int, default=d.minhash.num_perm)
    p.add_argument("--bands", type=int, default=d.lsh.bands)
    p.add_argument("--rows", type=int, default=d.lsh.rows)
    p.add_argument("--jaccard", type=float, default=d.jaccard_threshold)
    p.add_argument("--max-bucket", type=int, default=d.lsh.max_bucket_size)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    cfg = DedupConfig(
        shingle=ShingleConfig(k=args.shingle_k),
        minhash=MinHashConfig(num_perm=args.num_perm),
        lsh=LshConfig(
            bands=args.bands, rows=args.rows, max_bucket_size=args.max_bucket
        ),
        jaccard_threshold=args.jaccard,
    )
    spark = build_spark(app_name=f"cdr-dedup-{args.run_id}")
    catalog = (
        IcebergCatalog(args.workdir) if args.iceberg else ParquetCatalog(args.workdir)
    )
    pipe = DedupPipeline(catalog=catalog, cfg=cfg, run_id=args.run_id)
    stages = STAGES if args.stage == "all" else tuple(args.stage.split(","))
    turns = (
        spark.read.table(args.input)
        if args.iceberg
        else spark.read.parquet(args.input)
    )
    clusters = pipe.run(spark, turns, stages=stages, resume=args.resume)
    if clusters is not None:
        print(f"clusters table written: {clusters.count()} conversations labeled")
    else:
        print(f"stages {','.join(stages)} completed (no clusters table yet)")
    spark.stop()


if __name__ == "__main__":
    main()
