"""Session tuning (session.py): the JVM runs the throughput collector."""

from movingspark.session import JVM_CODEGEN_OPTS


def test_jvm_runs_the_throughput_collector(spark):
    """The collector's MXBean names: `PS Scavenge` / `PS MarkSweep` for
    the throughput collector (G1 would show `G1 Young Generation`)."""
    assert "-XX:+UseParallelGC" in JVM_CODEGEN_OPTS
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    names = sorted(beans.get(i).getName() for i in range(beans.size()))
    assert names == ["PS MarkSweep", "PS Scavenge"]
