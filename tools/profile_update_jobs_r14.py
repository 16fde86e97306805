"""Job-level profile of CodeIndex.update — maps every stage (labeled or
not) to its Spark JOB (callsite name + description), so stages without
a job description get attributed too.

Usage: python tools/profile_update_jobs_r14.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def api(path: str):
    with urllib.request.urlopen("http://localhost:4040/api/v1" + path, timeout=20) as r:
        return json.loads(r.read())


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from tools.profile_r14 import get_spark_ui  # reuse session setup

    from next_plaid_spark import queries as q
    from pyspark.sql import functions as F

    spark = get_spark_ui("profile-update-jobs")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup like bench
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    warm.groupBy("source").count().collect()

    ci = q._code_index(spark, sf_dir)
    files = q._code_corpus(spark, sf_dir)
    touched = [r.path for r in files.select("path").orderBy("path").limit(2).collect()]
    new_files = files.withColumn(
        "content",
        F.when(F.col("path").isin(touched),
               F.concat(F.col("content"),
                        F.lit("\ndef bench_touch():\n    return benchtouched\n"))
        ).otherwise(F.col("content")))
    upd_path = os.path.join(tempfile.mkdtemp(prefix="prof_ci_upd_"), "index")

    app_id = api("/applications")[0]["id"]
    jobs0 = {j["jobId"] for j in api(f"/applications/{app_id}/jobs")}
    t0 = time.time()
    ci.update(new_files, upd_path)
    wall = time.time() - t0

    jobs = [j for j in api(f"/applications/{app_id}/jobs")
            if j["jobId"] not in jobs0]
    stages = {s["stageId"]: s for s in
              api(f"/applications/{app_id}/stages?status=complete")}
    print(f"update wall {wall:.2f}s, {len(jobs)} jobs")
    rows = []
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        sids = sorted(j.get("stageIds", []))
        run = sum(stages[s].get("executorRunTime", 0) for s in sids if s in stages)
        cpu = sum(stages[s].get("executorCpuTime", 0) for s in sids if s in stages)
        nt = sum(stages[s].get("numCompleteTasks", 0) for s in sids if s in stages)
        sub = j.get("submissionTime", "")
        fin = j.get("completionTime", "")
        rows.append((j["jobId"], j.get("description") or j["name"],
                     sids, run, cpu, nt, sub, fin))
    for jid, desc, sids, run, cpu, nt, sub, fin in rows:
        print(f"  job {jid:>4} run {run/1000:7.2f}s cpu {cpu/1e9:6.2f}s "
              f"tasks {nt:>4} stages {sids}  | {desc[:90]}")
        for s in sids:
            st = stages.get(s)
            if st and st.get("executorRunTime", 0) > 3000:
                print(f"        st{s} name={st['name'].splitlines()[0][:80]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
