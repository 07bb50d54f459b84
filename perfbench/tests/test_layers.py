"""The traced run's wrappers on SnapshotStore, without Spark."""

from crawler_spark.state.snapshots import SnapshotStore
from perfbench import layers
from perfbench.trace import Tracer


class FakeWriter:
    def mode(self, _mode):
        return self

    def option(self, _k, _v):
        return self

    def parquet(self, path):
        from pathlib import Path

        Path(path).mkdir(parents=True, exist_ok=True)
        (Path(path) / "part-0.parquet").write_bytes(b"x" * 123)


class FakeDF:
    write = FakeWriter()

    def hint(self, _name):
        return self


def test_write_table_spans_are_named_by_table_and_sized(tmp_path):
    store = object.__new__(SnapshotStore)  # no SparkSession needed to write
    store.root = tmp_path
    tr = Tracer()
    layers.instrument(tr)
    try:
        store.write_table(3, "failed", FakeDF(), True)
        store.write_table(epoch=4, name="frontier", df=FakeDF())
    finally:
        tr.restore()
    spans = {s.name: s for s in tr.spans}
    assert spans["snapshots.write_table.failed"].attrs == {"bytes": 123}
    assert spans["snapshots.write_table.frontier"].attrs == {"bytes": 123}
    assert [s.name for s in tr.spans].count("trace.after") == 2
    assert not hasattr(SnapshotStore.write_table, "__wrapped__")
