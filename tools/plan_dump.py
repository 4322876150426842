"""Print the optimized logical plans of the two benchmark frames whose
plans a rendering change must leave untouched.

    python tools/plan_dump.py <checkout> <inputs-dir> > plans.txt

``<checkout>`` is the source tree to import ``morph_kgc_spark`` and
``perfbench`` from; ``<inputs-dir>`` receives the seed-1 ``kg_rml`` and
``web_pages`` inputs on first use and is reused afterwards. The output
holds the ``optimizedPlan`` text of the frame ``engine.materialize``
returns for ``perfbench/kg_mapping.ttl`` and of the frame
``pipeline_triples`` returns, with expression ids (``#123``) replaced by
``#N``. Two checkouts build the same plans iff ``diff`` of their outputs
over the same ``<inputs-dir>`` is empty.
"""

from __future__ import annotations

import os
import re
import sys


def main(root: str, inputs: str) -> None:
    root = os.path.abspath(root)
    sys.path[:0] = [root, os.path.join(root, "perfbench")]
    import gen
    from pyspark.sql import SparkSession

    import morph_kgc_spark
    from morph_kgc_spark import engine
    from morph_kgc_spark.mapping import parse_any_mapping
    from morph_kgc_spark.pipeline.pages import pipeline_triples
    from morph_kgc_spark.sources.registry import default_registry

    if not morph_kgc_spark.__file__.startswith(root):
        raise SystemExit(f"imported {morph_kgc_spark.__file__}, not {root}")
    kg, web = os.path.join(inputs, "kg"), os.path.join(inputs, "web")
    if not os.path.exists(kg):
        gen.tpch_tables(kg, 1, 20_000)
        gen.web_pages(web, 1, 20_000)

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        with open(os.path.join(root, "perfbench", "kg_mapping.ttl")) as f:
            rules = parse_any_mapping(f.read(), kg)
        frames = {
            "kg_rml": engine.materialize(
                spark, rules, registry=default_registry(persist_sources=True)),
            "web_pages": pipeline_triples(
                spark,
                spark.read.parquet(os.path.join(web, "pages.parquet")),
                spark.read.parquet(os.path.join(web, "aliases.parquet"))),
        }
        for name, df in frames.items():
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            print(f"=== {name}")
            print(re.sub(r"#\d+L?", "#N", plan))
    finally:
        spark.stop()


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    main(sys.argv[1], sys.argv[2])
