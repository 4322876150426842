"""Count Spark's codegen-cache entries after one perfbench workload pass,
by generated class kind and by class loader (``CodeGenerator$.cache``,
read by reflection; it keeps at most 100 entries by default).

    python3 tools/codegen_cache_probe.py curation_dedup [seed]
"""

from __future__ import annotations

import collections
import os
import re
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import run as bench  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

KIND = re.compile(r"return new (\w+?)(?:ForCodegenStage\d+)?\(")


def _field(cls, obj, name):
    field = cls.getDeclaredField(name)
    field.setAccessible(True)
    return field.get(obj)


def cache_entries(spark):
    """(class kind, class loader) per codegen-cache entry."""
    jvm = spark._jvm
    cls = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    cache = _field(cls, cls.getField("MODULE$").get(None), "cache")
    # unwrap Spark's NonFateSharingCache; the Guava class inside is not
    # public, so call asMap through its public Cache interface
    wrapper = jvm.java.lang.Class.forName("org.apache.spark.util.NonFateSharingCache")
    cache = _field(wrapper, cache, "cache")
    k = cache.getClass()
    while not any(i.getSimpleName() == "Cache" for i in k.getInterfaces()):
        k = k.getSuperclass()
    iface = next(i for i in k.getInterfaces() if i.getSimpleName() == "Cache")
    no_args = spark.sparkContext._gateway.new_array(jvm.java.lang.Class, 0)
    entries = jvm.java.util.HashMap(iface.getMethod("asMap", no_args)
                                    .invoke(cache, None))
    out = []
    for key in jvm.java.util.ArrayList(entries.keySet()):
        # (CodeAndComment, weak reference to the class loader)
        a, b = key._1(), key._2()
        code, ref = ((a, b) if a.getClass().getName().endswith("CodeAndComment")
                     else (b, a))
        kind, loader = KIND.search(code.body()), ref.get()
        out.append((kind.group(1) if kind else "?",
                    loader.getClass().getSimpleName() if loader else "gone"))
    return out


def main(argv):
    name, seed = argv[0], int(argv[1]) if len(argv) > 1 else 1
    wl = WORKLOADS[name]()
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    inp, _ = bench.prepare_inputs(wl, work, seed)
    out = os.path.join(work, "runs", f"codegen-probe-{os.getpid()}")
    spark = bench.start_session(work)
    try:
        wl.run(spark, inp, out)
        entries = cache_entries(spark)
    finally:
        bench.stop_jvm(spark)
        shutil.rmtree(out, ignore_errors=True)
    print(f"{name}: {len(entries)} codegen-cache entries after one pass")
    for label, counts in (("kind", collections.Counter(k for k, _ in entries)),
                          ("loader", collections.Counter(l for _, l in entries))):
        for k, n in counts.most_common():
            print(f"  {label:6} {k:40} {n}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
