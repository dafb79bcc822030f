"""The session factory's wiring, read back from the running JVM."""

from __future__ import annotations

from twitter_social_triangle_mapreduce_spark.session import DRIVER_JIT_PROFILE


def test_driver_jvm_runs_with_jit_profile(spark):
    """``get_spark`` launched the fixture session's JVM, so the JVM's own
    argument list carries the C2-threshold profile."""
    flags = DRIVER_JIT_PROFILE.split()
    assert sorted(f.split("=")[0] for f in flags) == [
        "-XX:Tier4BackEdgeThreshold",
        "-XX:Tier4CompileThreshold",
        "-XX:Tier4InvocationThreshold",
        "-XX:Tier4MinInvocationThreshold",
    ]
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = set(mx.getRuntimeMXBean().getInputArguments())
    missing = [f for f in flags if f not in args]
    assert not missing, f"driver JVM started without {missing}: {sorted(args)}"
