"""Test helper: attach a delete index's files to data entries through the
planner's bulk matcher (``_DeleteFileIndex.match_many``), materialized
the way ``ScanPlan.tasks`` materializes an array plan."""

import numpy as np

from iceberg_rust_spark.sources.manifest import ManifestColumns
from iceberg_rust_spark.sources.scan import FileScanTask, _DeleteFileIndex


def index_of(*entries):
    """The delete index of one manifest view built from ``entries``."""
    return _DeleteFileIndex([ManifestColumns.from_entries(list(entries))])


def attach(index, *entries):
    """One FileScanTask per data entry, in order, carrying the position
    and equality deletes ``index`` attaches to it."""
    cols = ManifestColumns.from_entries(list(entries))
    sets = index.match_many([(cols, np.arange(cols.n))])[0]
    tasks = []
    for j, e in enumerate(entries):
        t = FileScanTask(data_file=e.data_file,
                         sequence_number=e.sequence_number)
        s = None if sets is None else sets[j]
        if s is not None:
            t.pos_deletes.extend(index._file(x) for x in s[0])
            t.eq_deletes.extend(index._file(x) for x in s[1])
        tasks.append(t)
    return tasks
