"""Child process for the concurrent produce+consume+maintenance soak.

Launched by ``test_log.py::test_concurrent_soak`` — N producers, M
committing consumer groups, and a maintenance loop share ONE warehouse
from genuinely separate driver processes (own JVM, own catalog, own
locks), exercising the composition of the flock + atomic-swap + recovery
machinery that the per-role tests cover individually.

Roles:
* ``producer <id> <n_batches> <rows>`` — appends batches whose values
  encode (producer, batch, row); writes ``producer-<id>.done`` when
  finished.
* ``consumer <group> <n_producers> [spark]`` — polls + commits in a loop
  until every producer's done-sentinel exists AND two consecutive polls
  return nothing; writes the (partition, offset, value) triples it saw,
  and how many non-empty polls each lane served, to
  ``consumer-<group>.out``. Poll retries tolerate the documented
  transient missing-file read during a concurrent compaction swap.
  ``spark`` sets the driver-poll bound to 0, so every non-empty poll
  takes the Spark lane.
* ``maintenance <n_producers>`` — runs ``LogStore.maintenance`` with an
  aggressive compaction threshold every ~0.5 s until the producers are
  done (then once more); writes pass count + how many ran mid-traffic to
  ``maintenance.out``.

Usage: python soak_child.py <warehouse> <ctrl_dir> <role> [role args...]
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spark(name: str):
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from flux_spark.session import get_spark

    return get_spark(
        app_name=name,
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def _producers_done(ctrl: str, n_producers: int) -> bool:
    return all(
        os.path.exists(os.path.join(ctrl, f"producer-{i}.done"))
        for i in range(n_producers)
    )


def run_producer(warehouse: str, ctrl: str, pid: int, n_batches: int, rows: int):
    from flux_spark.log import LogStore

    spark = _spark(f"soak-prod-{pid}")
    store = LogStore(spark, warehouse)
    for b in range(n_batches):
        df = spark.createDataFrame(
            [(r, f"p{pid}-b{b}-r{r}") for r in range(rows)],
            "seq long, value string",
        )
        store.append("soak", df, ordering_col="seq")
    with open(os.path.join(ctrl, f"producer-{pid}.done"), "w") as fh:
        fh.write("done")
    spark.stop()


def run_consumer(
    warehouse: str,
    ctrl: str,
    group: str,
    n_producers: int,
    spark_lane: bool = False,
):
    from flux_spark import consumer as consumer_mod
    from flux_spark.consumer import FluxConsumer
    from flux_spark.log import LogStore

    spark = _spark(f"soak-cons-{group}")
    store = LogStore(spark, warehouse)
    # Under the default bound every drain this soak produces is read on
    # the driver (poll() -> read_ranges): the read raises when a file it
    # listed is gone because a compaction swap removed it, and the loop
    # below re-polls, which is safe because a raising driver poll leaves
    # positions unchanged. spark_lane=True sets the
    # bound to 0, so every non-empty poll runs the Spark scan instead.
    if spark_lane:
        consumer_mod._DRIVER_POLL_MAX_RECORDS = 0
    cons = FluxConsumer(store, group)
    cons.subscribe(["soak"])
    seen: list[tuple[int, int, str]] = []
    fast_polls = spark_polls = 0
    empty_after_done = 0
    deadline = time.time() + 480
    while time.time() < deadline:
        try:
            res = cons.poll()
        except Exception:
            # documented transient: a lazy scan that listed files just
            # before a compaction swap and executed just after — retry
            time.sleep(0.2)
            continue
        if res.count:
            try:
                rows = res.rows
            except Exception:
                # the Spark lane's scan is lazy: a file a compaction swap
                # removed after planning fails here, and positions have
                # already moved, so rewind to the last commit and re-poll
                cons.subscribe(["soak"])
                time.sleep(0.2)
                continue
            if res.lane == "driver":
                fast_polls += 1
            else:
                spark_polls += 1
            seen.extend((r["partition"], r["offset"], r["value"]) for r in rows)
            cons.commit_offsets()
            empty_after_done = 0
        elif _producers_done(ctrl, n_producers):
            empty_after_done += 1
            if empty_after_done >= 2:
                break
            time.sleep(0.3)
        else:
            time.sleep(0.3)
    cons.close()
    with open(os.path.join(ctrl, f"consumer-{group}.out"), "w") as fh:
        json.dump(
            {"seen": seen, "fast_polls": fast_polls, "spark_polls": spark_polls},
            fh,
        )
    spark.stop()


def run_maintenance(warehouse: str, ctrl: str, n_producers: int):
    from flux_spark.log import LogStore

    spark = _spark("soak-maint")
    store = LogStore(spark, warehouse)
    passes = mid_traffic = 0
    deadline = time.time() + 480
    while time.time() < deadline:
        done = _producers_done(ctrl, n_producers)
        store.maintenance(min_files_to_compact=4)
        passes += 1
        if not done:
            mid_traffic += 1
        else:
            break
        time.sleep(0.5)
    with open(os.path.join(ctrl, "maintenance.out"), "w") as fh:
        json.dump({"passes": passes, "mid_traffic": mid_traffic}, fh)
    spark.stop()


def main() -> None:
    warehouse, ctrl, role = sys.argv[1], sys.argv[2], sys.argv[3]
    if role == "producer":
        run_producer(warehouse, ctrl, int(sys.argv[4]), int(sys.argv[5]), int(sys.argv[6]))
    elif role == "consumer":
        run_consumer(
            warehouse,
            ctrl,
            sys.argv[4],
            int(sys.argv[5]),
            spark_lane=len(sys.argv) > 6 and sys.argv[6] == "spark",
        )
    elif role == "maintenance":
        run_maintenance(warehouse, ctrl, int(sys.argv[4]))
    else:
        raise SystemExit(f"unknown role {role}")
    print(f"{role} done")


if __name__ == "__main__":
    main()
