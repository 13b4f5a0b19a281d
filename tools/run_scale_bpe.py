"""100x scale point for the r8 BPE train/apply split (VERDICT r7 next #2).

Times, at sf0.1 and at the factor-100 documents replication
(/tmp/sf10synth via tools/make_scale.py):

- bpe_train_local_full: ONE distinct-word aggregate collected to the
  driver (vocabulary-sized; the replicated corpus multiplies the vocab
  by the replica count because make_scale prefixes replica markers) +
  the local merge loop;
- the broadcast-vocab corpus encode (bpe_encode_vocab), noop-sink timed
  so every output column materializes.

Usage: python tools/run_scale_bpe.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import SparkSession

    from opengemini_spark.catalog import load_table
    from opengemini_spark.datapipe import bpe

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "96g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, dict] = {}
    for label, sf_dir in (("sf0.1", "/root/testdata/sf0.1"),
                          ("x100", "/tmp/sf10synth")):
        docs = load_table(spark, sf_dir, "documents")
        n_docs = docs.count()
        t0 = time.time()
        merges, vocab = bpe.bpe_train_local_full(docs)
        train_wall = time.time() - t0
        t0 = time.time()
        enc = bpe.bpe_encode_vocab(docs, vocab)
        enc.write.format("noop").mode("overwrite").save()
        enc_wall = time.time() - t0
        out[label] = {
            "n_docs": n_docs,
            "vocab": len(vocab),
            "n_merges": len(merges),
            "train_local_wall_sec": round(train_wall, 2),
            "encode_vocab_wall_sec": round(enc_wall, 2),
        }
        print(json.dumps({label: out[label]}), flush=True)
        spark.catalog.clearCache()

    out["ratios"] = {
        "train_local_wall": round(
            out["x100"]["train_local_wall_sec"]
            / out["sf0.1"]["train_local_wall_sec"], 1
        ),
        "encode_vocab_wall": round(
            out["x100"]["encode_vocab_wall_sec"]
            / out["sf0.1"]["encode_vocab_wall_sec"], 1
        ),
    }
    print("FINAL " + json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
