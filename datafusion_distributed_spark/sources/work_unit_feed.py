"""Work-unit-feed source: runtime-discovered work descriptors drive the scan.

Reference analogue: a leaf scan driven by work units (file URLs, API pages,
queue offsets) discovered on the coordinator at runtime and streamed to
workers (/root/reference/src/work_unit_feed/work_unit.rs:4-48,
docs/source/advanced/04-work-unit-feeds.md, tests/work_unit_feed.rs).

SURVEY.md §1.4 maps this onto the Spark 4 Python DataSource API: the
``partitions()`` call runs on the DRIVER (== the reference's coordinator-side
``WorkUnitFeedProvider``) and returns one ``InputPartition`` per discovered
work unit; each executor task then materializes only its own unit in
``read()`` (== the reference worker pulling its ``WorkUnit``). Data returns
as Arrow RecordBatches — the same Arrow-batch plane the reference streams
over Flight.

Work units here are (file, row_start, row_count) descriptors over parquet,
discovered from footers at plan time. At 100 TB the same structure holds:
discovery is metadata-only (footers / a queue / an API listing), and each
task reads one bounded unit; nothing data-scale ever touches the driver.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


@dataclass
class WorkUnit(InputPartition):
    """One discovered unit of scan work (reference: WorkUnit, work_unit.rs:4-17)."""

    path: str
    row_group: int
    row_start: int
    row_count: int


def _expand_parquet_paths(pattern: str) -> list[str]:
    """Glob, then expand any DIRECTORY match (a Spark-written
    `name.parquet/` with part files) into its contained parquet files —
    the feed enumerates row groups per physical file."""
    import glob
    import os

    out: list[str] = []
    for p in sorted(glob.glob(pattern)) or [pattern]:
        if os.path.isdir(p):
            out.extend(sorted(glob.glob(os.path.join(p, "*.parquet"))))
        else:
            out.append(p)
    return out


@dataclass
class WorkUnitGroup(InputPartition):
    """Several work units executed by ONE task — the merge side of the
    task-count reconciliation (reference: the planner packing leaf
    partitions into the stage's final task count,
    /root/reference/tests/task_estimator_test.rs custom_routing_more_partitions:
    5 tasks x 2 partitions each)."""

    units: list


def _pack_units(units: list, desired: int, maximum: int) -> list:
    """Reconcile discovered units against the task-count annotations — the
    Spark seat of the reference's TaskEstimator contract
    (/root/reference/src/events/desired_task_count.rs):

    - ``desired`` is a HINT: more units than desired merge into exactly
      ``desired`` balanced groups; fewer units than desired split along row
      ranges until the count is reached or nothing splittable remains (the
      final count "might not be exactly this number");
    - ``maximum`` is a HARD CAP and wins over ``desired`` when smaller
      (the reference: the smallest Maximum has preference); ``maximum=1``
      is the "cannot be distributed" declaration — one task scans all.
    """
    if desired <= 0 and maximum <= 0:
        return units
    target = desired if desired > 0 else len(units)
    if maximum > 0:
        target = min(target, maximum)
    target = max(target, 1)

    # Split phase: raise the unit count toward the target by halving the
    # row range of the largest splittable unit (row_count >= 2).
    units = list(units)
    while len(units) < target:
        units.sort(key=lambda u: -u.row_count)
        big = units[0]
        if big.row_count < 2:
            break  # nothing splittable: final count stays below the hint
        half = big.row_count // 2
        units[0] = WorkUnit(big.path, big.row_group, big.row_start, half)
        units.append(
            WorkUnit(
                big.path, big.row_group, big.row_start + half,
                big.row_count - half,
            )
        )
    if len(units) <= target:
        return units

    # Merge phase: pack into exactly `target` groups, balanced by row
    # count (greedy into the lightest bin — units are metadata-scale, the
    # packing is driver-side and O(U log T)).
    import heapq

    bins = [(0, i, []) for i in range(target)]
    heapq.heapify(bins)
    for u in sorted(units, key=lambda u: -u.row_count):
        rows, i, members = heapq.heappop(bins)
        members.append(u)
        heapq.heappush(bins, (rows + u.row_count, i, members))
    return [WorkUnitGroup(members) for _, _, members in sorted(bins) if members]


class WorkUnitFeedReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("work_unit_feed requires a 'path' option")
        self.rows_per_unit = int(options.get("rows_per_unit", "0"))
        # Task-count annotations (reference: TaskCountAnnotation::Desired /
        # ::Maximum, events/desired_task_count.rs). 0 = unset.
        self.desired_tasks = int(options.get("desired_tasks", "0"))
        self.max_tasks = int(options.get("max_tasks", "0"))

    def partitions(self):
        """DRIVER-side work discovery — the WorkUnitFeedProvider role.

        Enumerates row groups from parquet footers (metadata-only, no data
        read), optionally sub-splitting into fixed row ranges so one file
        still fans out to many tasks; the discovered units are then
        reconciled against the desired/max task-count annotations (the
        reference's TaskEstimator flow — the scan's partition list IS the
        stage task count in Spark). Subclasses refine discovery (pruning)
        via _discover_units; packing always runs last, on the surviving
        units."""
        return _pack_units(
            self._discover_units(), self.desired_tasks, self.max_tasks
        )

    def _discover_units(self) -> list:
        import pyarrow.parquet as pq

        files = _expand_parquet_paths(self.path)
        units: list[WorkUnit] = []
        for f in files:
            meta = pq.ParquetFile(f).metadata
            for rg in range(meta.num_row_groups):
                n = meta.row_group(rg).num_rows
                step = self.rows_per_unit if self.rows_per_unit > 0 else n
                for start in range(0, n, step):
                    units.append(WorkUnit(f, rg, start, min(step, n - start)))
        return units

    def read(self, partition):
        if isinstance(partition, WorkUnitGroup):
            for u in partition.units:
                yield from self._read_unit(u)
        else:
            yield from self._read_unit(partition)

    def _read_unit(self, partition: WorkUnit):
        """Executor-side: materialize exactly one work unit as Arrow batches.

        Decoding is STREAMING with early stop: ``iter_batches`` decodes the
        row group incrementally and iteration halts at the unit's end, so a
        unit covering rows [start, start+count) decodes at most ``start +
        count`` rows, never the whole group. (Columnar decode cannot *skip*
        rows before ``start`` — that is inherent to sub-row-group splits, and
        why ``rows_per_unit`` should stay near row-group size at scale; the
        amplification bound for U units over one group is (U+1)/2, not U.)
        """
        import pyarrow.parquet as pq

        end = partition.row_start + partition.row_count
        pf = pq.ParquetFile(partition.path)
        pos = 0
        for batch in pf.iter_batches(batch_size=8192, row_groups=[partition.row_group]):
            if pos >= end:
                break
            lo = max(partition.row_start - pos, 0)
            hi = min(end - pos, batch.num_rows)
            if hi > lo:
                yield batch.slice(lo, hi - lo)
            pos += batch.num_rows


class WorkUnitFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "work_unit_feed"

    def schema(self):
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        files = _expand_parquet_paths(self.options.get("path"))
        arrow_schema = pq.ParquetFile(files[0]).schema_arrow
        return from_arrow_schema(arrow_schema.remove_metadata())

    def reader(self, schema) -> WorkUnitFeedReader:
        return WorkUnitFeedReader(self.options)


def register_work_unit_feed(spark) -> None:
    """Idempotently register the source on a session."""
    spark.dataSource.register(WorkUnitFeedDataSource)


# ---------------------------------------------------------------------------
# Filter-pruned work-unit feed (Spark 4.1 Python DataSource pushdown).
#
# Reference analogue: the coordinator prunes work units against query
# predicates BEFORE streaming them to workers, so a selective query never
# schedules scan work that cannot match. Here `pushFilters` records the
# AND-ed comparison filters and `partitions()` drops every row-group unit
# whose parquet column statistics (min/max/null_count) PROVE it empty for
# the conjunction. Pruning is deliberately partial pushdown: every filter
# is returned to Spark for exact post-scan evaluation (the contract's
# "partially pushed" mode), so stats-based pruning can stay conservative —
# a unit is skipped only when provably non-matching, and correctness never
# depends on the statistics. Needs
# spark.sql.python.filterPushdown.enabled=true (off by default in 4.1; one
# of engine.RUNTIME_CONFS).
# ---------------------------------------------------------------------------


class FilteredWorkUnitFeedReader(WorkUnitFeedReader):
    def __init__(self, options):
        super().__init__(options)
        self._pruning_filters = []

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
        )

        usable = (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
            IsNull,
            IsNotNull,
        )
        for f in filters:
            if isinstance(f, usable) and len(f.attribute) == 1:
                value = getattr(f, "value", None)
                if value is None or isinstance(value, (int, float, str, bool)):
                    self._pruning_filters.append(f)
        # Partial pushdown: Spark re-applies EVERY filter exactly; the
        # recorded ones additionally prune units below.
        return filters

    def _unit_may_match(self, stats_by_col) -> bool:
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
        )

        for f in self._pruning_filters:
            col = f.attribute[0]
            st = stats_by_col.get(col)
            if st is None:
                continue  # no stats for this column: cannot prune on it
            lo, hi, nulls, n_rows = st
            v = getattr(f, "value", None)
            if isinstance(f, IsNull):
                if nulls is not None and nulls == 0:
                    return False
                continue
            if isinstance(f, IsNotNull):
                if nulls is not None and n_rows is not None and nulls == n_rows:
                    return False
                continue
            if lo is None or hi is None:
                continue
            try:
                if isinstance(f, EqualTo) and (v < lo or v > hi):
                    return False
                if isinstance(f, GreaterThan) and hi <= v:
                    return False
                if isinstance(f, GreaterThanOrEqual) and hi < v:
                    return False
                if isinstance(f, LessThan) and lo >= v:
                    return False
                if isinstance(f, LessThanOrEqual) and lo > v:
                    return False
            except TypeError:
                continue  # incomparable literal/stat types: never prune
        return True

    def _discover_units(self) -> list:
        import pyarrow.parquet as pq

        units = super()._discover_units()
        if not self._pruning_filters:
            return units

        kept: list[WorkUnit] = []
        stats_cache: dict[tuple[str, int], dict] = {}
        for u in units:
            key = (u.path, u.row_group)
            if key not in stats_cache:
                meta = pq.ParquetFile(u.path).metadata
                rg = meta.row_group(u.row_group)
                by_col = {}
                for i in range(rg.num_columns):
                    c = rg.column(i)
                    s = c.statistics
                    by_col[c.path_in_schema] = (
                        s.min if s is not None and s.has_min_max else None,
                        s.max if s is not None and s.has_min_max else None,
                        s.null_count if s is not None else None,
                        rg.num_rows,
                    )
                stats_cache[key] = by_col
            if self._unit_may_match(stats_cache[key]):
                kept.append(u)
        return kept


class FilteredWorkUnitFeedDataSource(WorkUnitFeedDataSource):
    @classmethod
    def name(cls) -> str:
        return "work_unit_feed_filtered"

    def reader(self, schema) -> FilteredWorkUnitFeedReader:
        return FilteredWorkUnitFeedReader(self.options)


def register_filtered_work_unit_feed(spark) -> None:
    spark.dataSource.register(FilteredWorkUnitFeedDataSource)
