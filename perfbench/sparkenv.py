"""Spark session set-up and job accounting shared by the Spark workloads."""

from __future__ import annotations


def start_spark(env):
    """The package's session (``session.get_spark``), with every
    directory it writes to placed under the run's work directory."""
    from kcore_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": env.dir("warehouse"),
            "spark.local.dir": env.dir("spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env.dir('tmp')}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def job_counts(spark, groups) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under the given job groups,
    from the status tracker."""
    st = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for group in groups:
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                sinfo = st.getStageInfo(sid)
                if sinfo is not None:
                    stages += 1
                    tasks += sinfo.numTasks
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit; the JVM exits
    when its standard input closes."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
