"""Host-fit session defaults (no JVM started): the default driver heap
must fit the machine it runs on."""

from poc_parquet_aggregator_spark.plans import session


def test_default_driver_heap_below_physical_ram():
    heap = session._host_driver_memory()
    assert heap.endswith("m")
    with open("/proc/meminfo") as f:
        total_kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    assert 1024 <= int(heap[:-1]) < total_kib // 1024
