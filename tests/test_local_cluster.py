"""Process-isolated executor parity: the engine must produce IDENTICAL
results when executors are separate JVMs (local-cluster) as when tasks run
in the driver JVM (local[]) — this is the correctness side of the
BENCH.md isolated scaling pair, and exercises the executor-side plumbing
(spark.executorEnv PYTHONPATH for cloudpickled detector classes, allocator
env vars, ParallelGC executor option) that local[] never touches.

Runs in a subprocess because one JVM hosts one master for the process
lifetime (the shared session fixture is local[]).
"""

import json
import subprocess
import sys

CHILD = """
import json, sys
sys.path.insert(0, "/root/repo")
from pysatl_cpd_spark.session import get_spark
from pysatl_cpd_spark.detectors.lockstep import LockstepLinearBOCPD
from pysatl_cpd_spark.operators.cpd import detect_lockstep_colocated
from pysatl_cpd_spark.operators.series import turn_rate_series
from pysatl_cpd_spark.sources.transcripts import transcripts_table

master = sys.argv[1] if sys.argv[1] != "-" else None
spark = get_spark(cores=4, app_name="lc_parity", shuffle_partitions=8,
                  master=master)
tr = transcripts_table(spark, n_conversations=24, avg_turns=220, seed=5,
                       with_text=False)
series = turn_rate_series(tr).repartition(8, "series_id")
factory = lambda: LockstepLinearBOCPD(
    rate=1.0 / (1.0 - 0.5 ** (1.0 / 500)), learning_sample_size=20,
    threshold=0.04, start_after=500, prep=250)
cps = sorted(
    (r.series_id, int(r.change_point))
    for r in detect_lockstep_colocated(series, factory).collect()
)
print("RESULT:" + json.dumps(cps))
"""


def _run(master: str) -> list:
    out = subprocess.run(
        [sys.executable, "-c", CHILD, master],
        capture_output=True,
        text=True,
        check=True,
        cwd="/root/repo",
        timeout=420,
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT:")][-1]
    return json.loads(line[len("RESULT:") :])


def test_local_cluster_matches_local():
    local = _run("-")
    isolated = _run("local-cluster[2,2,2048]")
    assert local == isolated and len(local) > 3
