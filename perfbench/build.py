#!/usr/bin/env python3
"""The benchmark's one-time build step, run by ``run.py`` in a process
of its own when its build directory is missing:

    python3 perfbench/build.py <build_dir>

One Spark session generates every workload's ``sources.synth`` worlds
(world seeds 0 .. WORLDS-1) with the oracle digests of each, crawls
the first leg of each resumed workload's worlds, then stops.
Its JVM runs with ``-XX:ArchiveClassesAtExit``, so on exit it writes a
class-data-sharing archive of every class it loaded; the timed sessions
map that archive instead of loading and verifying those classes from
the Spark jars. Nothing of this build is timed. The directory is only
marked done once every step finished.
"""

from __future__ import annotations

import json
import os
import sys
import time

import run


def main(build_dir: str) -> int:
    from checks import cached_oracle
    from ftw_crawler_spark.plans.crawl import run_crawl
    from ftw_crawler_spark.sources.synth import add_link_layer, generate_world

    t0 = time.perf_counter()
    spark = run.start_session(os.path.join(build_dir, "session"), None,
                              archive_out=run.archive_path(build_dir))
    times = {}
    try:
        for name, wl in sorted(run.WORKLOADS.items()):
            for wseed in range(run.WORLDS):
                t = time.perf_counter()
                world_dir = run.world_path(build_dir, name, wseed)
                generate_world(spark, world_dir, n_urls=wl["n_urls"],
                               seed=wseed)
                if wl.get("follow_links"):
                    add_link_layer(spark, world_dir, seed=wseed,
                                   n_hidden_per_site=wl["n_hidden"])
                cached_oracle(world_dir + ".oracle.json", world_dir,
                              run.CRAWL_TIME)
                if "first_leg_batches" in wl:
                    run_crawl(spark, world_dir,
                              run.stopped_path(build_dir, name, wseed),
                              max_batches=wl["first_leg_batches"],
                              **run.crawl_kwargs(wl))
                times[f"{name}-{wseed}"] = round(time.perf_counter() - t, 2)
    finally:
        # the JVM writes the class archive as it exits
        run.stop_session(spark, timeout=300)
    with open(os.path.join(build_dir, "done"), "w") as fh:
        json.dump({"worlds_s": times,
                   "build_s": round(time.perf_counter() - t0, 2)}, fh)
    print(json.dumps({"build": times}), file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
