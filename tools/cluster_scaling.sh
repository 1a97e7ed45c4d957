#!/bin/bash
# TRUE multi-executor scaling evidence (north rule literal form): the KG
# pipeline spark-submitted against a localhost Spark standalone cluster at
# N and 4N total cores, each executor a SEPARATE 4-core/8g JVM.
#
#   tools/cluster_scaling.sh [nFiles] [pair]     pair = 4v16 | 8v32 (default)
#
# Protocol per level (graft.Scaling cluster: the same timed run and
# protocol as `Scaling once`, which tools/scaling_pinned.sh runs per local
# level): one submit = one discarded run at the measured scale +
# SCALING_RUNS full-pipeline repeats, min taken; fresh UUID scratch + cache
# release per repeat, so nothing is reused. The
# N-executor config runs with the WORKER (and therefore its executor
# children, which inherit the affinity mask) pinned to exactly N host
# cores — an unpinned low config free-rides idle host cores for GC/JIT and
# deflates T_N (measured: 82.0 s unpinned vs 97.8 s pinned at 8 cores,
# BENCH/BASELINE.md). The driver stays unpinned in both configs, as a
# separate driver node would be on a real cluster. The 4N=32 config is the
# whole host, so pinning is a no-op there.
set -e
NFILES=${1:-2000000}
PAIR=${2:-8v32}
JAR=target/scala-2.13/sociallinkspark_2.13-0.1.0.jar
export SPARK_LOG_DIR=${SPARK_LOG_DIR:-target/spark-logs}
export SPARK_PID_DIR=${SPARK_PID_DIR:-target/spark-pids}

[ -f "$JAR" ] || sbt -batch package

submit() { # submit <totalCores>
  # AlwaysPreTouch on every JVM: the standalone launcher already passes
  # -Xms=-Xmx to executors, but without pre-touch each executor still
  # faults its heap lazily DURING the first jobs — on this guest that is
  # the dominant noise source (BENCH/raw_r5.md addendum 18: fresh-page
  # materialization collapses to ~100-170 MiB/s under concurrent
  # in-process faulting). Pre-touch moves the fault storm to executor
  # startup, which the discarded warm-up run absorbs before anything is timed.
  /opt/spark/bin/spark-submit \
    --master spark://localhost:7077 \
    --driver-memory 16g \
    --driver-java-options "-Xms16g -XX:+AlwaysPreTouch" \
    --conf spark.executor.extraJavaOptions="-XX:+AlwaysPreTouch" \
    --conf spark.executor.cores=4 \
    --conf spark.executor.memory="${EXEC_MEM:-8g}" \
    --conf spark.cores.max="$1" \
    --conf spark.sql.shuffle.partitions="$1" \
    --conf spark.local.dir=/dev/shm/spark-local \
    --conf spark.sql.warehouse.dir=/dev/shm/spark-local/warehouse-cluster \
    --conf spark.ui.enabled=false \
    --class graft.Scaling "$JAR" cluster "$NFILES" 2>&1 | grep -E '"mode"|Exception'
}

level() { # level <totalCores> <pinSpec or "">
  /opt/spark/sbin/stop-worker.sh 2>/dev/null || true
  sleep 2
  if [ -n "$2" ]; then
    SPARK_WORKER_CORES="$1" SPARK_WORKER_MEMORY=100g \
      taskset -c "$2" /opt/spark/sbin/start-worker.sh spark://localhost:7077
  else
    SPARK_WORKER_CORES="$1" SPARK_WORKER_MEMORY=100g \
      /opt/spark/sbin/start-worker.sh spark://localhost:7077
  fi
  sleep 5
  SCALING_RUNS=${SCALING_RUNS:-2} submit "$1"
  /opt/spark/sbin/stop-worker.sh
}

/opt/spark/sbin/start-master.sh --host localhost --port 7077 --webui-port 8099 2>/dev/null || true
sleep 2
echo "=== cluster $PAIR start $(date) loadavg: $(cat /proc/loadavg)"
if [ "$PAIR" = 4v16 ]; then
  level 4 0-3      # N:  1 executor  x 4 cores, pinned
  level 16 0-15    # 4N: 4 executors x 4 cores, pinned
else
  level 8 0-7      # N:  2 executors x 4 cores, pinned
  level 32 ""      # 4N: 8 executors x 4 cores = whole host
fi
echo "=== cluster $PAIR end $(date) loadavg: $(cat /proc/loadavg)"
