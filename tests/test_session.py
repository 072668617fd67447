"""The session JVM runs the factory's JIT policy: read back from the
running JVM, not from the conf string that asked for it."""

from __future__ import annotations


def test_session_jvm_runs_c1_with_tiered_code_cache(spark):
    mgmt = spark._jvm.java.lang.management.ManagementFactory
    args = list(mgmt.getRuntimeMXBean().getInputArguments())
    assert "-XX:TieredStopAtLevel=1" in args, args
    assert "-XX:ReservedCodeCacheSize=240m" in args, args
    assert any(a.startswith("-Dderby.system.home=") for a in args), args
    # C1 only means one unsegmented code cache; its reserve is the
    # tiered default, not the 48 MB C1-only default
    pools = {
        p.getName(): p.getUsage().getMax()
        for p in mgmt.getMemoryPoolMXBeans()
    }
    assert pools.get("CodeCache") == 240 * 1024 * 1024, pools
