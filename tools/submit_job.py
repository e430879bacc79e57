"""spark-submit entry point (north_rule: "run via spark-submit
--py-files on a multi-executor cluster").

Packaging + launch:

    cd /root/repo
    zip -qr /tmp/goskyr_spark.zip goskyr_spark
    spark-submit --master local[8] \
        --py-files /tmp/goskyr_spark.zip \
        --conf spark.sql.shuffle.partitions=8 \
        tools/submit_job.py --hosts 10 --warehouse /tmp/submit_wh

On a real cluster the only change is ``--master yarn|k8s://…`` plus
executor sizing; the job itself is identical (the zip ships the whole
engine to executors — no repo checkout needed on workers).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--hosts", type=int, default=10)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--max-rounds", type=int, default=30)
    args = ap.parse_args()

    spark = SparkSession.builder.appName("goskyr-crawl-submit").getOrCreate()

    from goskyr_spark.crawl.bloom import BloomSpec
    from goskyr_spark.crawl.rounds import CrawlRun
    from goskyr_spark.spark.corpus import CorpusSpec, generate_pages, generate_robots

    spec = CorpusSpec(n_hosts=args.hosts, list_pages_per_host=3, items_per_page=5, mega_factor=2)
    pages = generate_pages(spark, spec).cache()
    run = CrawlRun(
        spark, args.warehouse, pages,
        spec.config_yaml().replace("id: n08a", "id: n08a\n  field: link"),
        robots=generate_robots(spark, spec),
        bloom_spec=BloomSpec(n_buckets=16, bits_per_bucket=1 << 16),
        default_budget=64, follow_links=True,
    )
    if run.resume_round() == 0:
        run.init(spec.seed_urls())
    stats = run.run(max_rounds=args.max_rounds)
    print("SUBMIT_RESULT " + json.dumps({
        "rounds": len(stats),
        "urls": sum(s.get("selected", 0) for s in stats),
        "records": spark.read.schema("url string, record_idx int, record string, round_id int")
        .parquet(args.warehouse + "/records/round=*").count(),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
