"""The engine session's driver JVM."""


def test_driver_jvm_has_two_compiler_threads(spark):
    """``get_spark`` fixes the driver's JIT budget at two compiler
    threads, whatever the core count; HotSpot would otherwise size the
    pool from the cores (3 threads at 4 cores, 15 at 32)."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("CICompilerCount").getValue() == "2"
