"""Profile the incremental micro-batch path (the bench's
incremental_microbatch stage) with per-function cumulative wall time —
py4j blocking attributes Spark job time to the driver frame that
launched it, which is exactly the per-batch fixed-cost breakdown the
round-3 verdict asked for.

Cores default to the machine's count; SPARK_GRAFT_CPUS overrides it."""
import cProfile
import os
import pstats
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graphiti_spark.session import get_spark
from pyspark.sql import functions as SF

from graphiti_spark.materialize import materialize_graph  # noqa: E402
from graphiti_spark.synth import synthesize_episodes  # noqa: E402

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()))

root = tempfile.mkdtemp(prefix="prof_graph_")
base = synthesize_episodes(spark, sf_dir)
bucket = SF.pmod(SF.xxhash64("doc_id"), SF.lit(10)).cast("int")
t0 = time.perf_counter()
materialize_graph(spark, base.where(bucket != 0), root)
print(f"bootstrap: {time.perf_counter() - t0:.1f}s", flush=True)

micro = base.where((bucket == 0) & (SF.col("group_id") == "g0"))
t0 = time.perf_counter()
prof = cProfile.Profile()
prof.enable()
materialize_graph(spark, micro, root)
prof.disable()
print(f"microbatch: {time.perf_counter() - t0:.1f}s", flush=True)

st = pstats.Stats(prof)
st.sort_stats("cumulative")
st.print_stats(r"graphiti_spark|bench|tables|materialize|incremental|search", 40)
st.print_callees(r"incremental.py:103|pipeline.py:146")
st.print_stats(r"localCheckpoint|collect|isEmpty|readwriter|dataframe.py", 25)
