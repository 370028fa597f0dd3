"""Pure-Python reference model of a manifest log: what every version
must resolve to, as a dict replay over ``(mapping, stats, zones)``.

The log publishes deltas, inline or parquet checkpoints, restores and
vacuum collapses; the model knows none of that.  A declared commit
replaces its touched buckets with its own files, stats and zones and
carries every other bucket forward.  Metadata keeps the COVERAGE rule:
a snapshot publishes stats only when every bucket has an entry, and
zones only when every file has one, so readers scan instead of trusting
a subset; a commit that rewrites every bucket regains coverage.
``ModelRecorder`` feeds every ``commit_bounded`` / ``restore`` /
``vacuum`` a test makes into one model per table and checks that each
retained version of the log equals the model's.
"""

import copy

from quick_stream_spark.operators.commitlog import ManifestLog


def canonical(mapping, stats, zones) -> tuple:
    """Order-insensitive form of one resolved snapshot."""
    return (
        {int(b): sorted(fl) for b, fl in mapping.items() if fl},
        None if stats is None else {int(b): list(s) for b, s in stats.items()},
        None
        if zones is None
        else {p: {c: list(mm) for c, mm in z.items()} for p, z in zones.items()},
    )


class ManifestModel:
    """Version -> ``(mapping, stats, zones)`` of one table, replayed
    from its declared commits, restores and vacuums."""

    def __init__(self) -> None:
        self.snapshots: dict[int, tuple] = {}
        self.last = 0

    def _latest(self) -> tuple:
        if not self.snapshots:
            return {}, {}, {}
        return self.snapshots[self.last]

    def _publish(self, snap: tuple) -> int:
        self.last += 1
        self.snapshots[self.last] = snap
        return self.last

    def commit(self, touched, new_files, new_stats, new_zones) -> int:
        mapping, stats, zones = self._latest()
        touched = {int(b) for b in touched}
        new_files = {int(b): list(fl) for b, fl in new_files.items() if fl}
        out_map = {b: list(fl) for b, fl in mapping.items() if b not in touched}
        out_map.update(new_files)
        carried = set(out_map) - set(new_files)

        stats, zones = stats or {}, zones or {}
        if any(b not in stats for b in carried):
            out_stats = None
        elif new_files and (
            new_stats is None or any(b not in new_stats for b in new_files)
        ):
            out_stats = None
        else:
            out_stats = {b: list(stats[b]) for b in carried}
            out_stats.update({b: list(new_stats[b]) for b in new_files})

        carried_paths = [p for b in carried for p in out_map[b]]
        new_paths = [p for fl in new_files.values() for p in fl]
        if any(p not in zones for p in carried_paths):
            out_zones = None
        elif new_paths and (
            new_zones is None or any(p not in new_zones for p in new_paths)
        ):
            out_zones = None
        else:
            out_zones = {p: copy.deepcopy(zones[p]) for p in carried_paths}
            out_zones.update({p: copy.deepcopy(new_zones[p]) for p in new_paths})
        return self._publish((out_map, out_stats, out_zones))

    def restore(self, version: int) -> int:
        return self._publish(copy.deepcopy(self.snapshots[version]))

    def vacuum(self, keep_versions: int) -> None:
        for v in sorted(self.snapshots)[:-keep_versions]:
            del self.snapshots[v]

    def versions(self) -> list[int]:
        return sorted(self.snapshots)

    def state(self, version: int) -> tuple:
        return canonical(*self.snapshots[version])


class ModelRecorder:
    """Route every ``ManifestLog`` commit, restore and vacuum through a
    per-table :class:`ManifestModel` (keyed by table path), asserting
    each published version number matches the model's."""

    def __init__(self, monkeypatch) -> None:
        self.models: dict[str, ManifestModel] = {}
        real_commit = ManifestLog.commit_bounded
        real_restore = ManifestLog.restore
        real_vacuum = ManifestLog.vacuum

        def commit_bounded(log, touched, new_files, new_stats, new_zones,
                           base_version, op=None):
            args = copy.deepcopy((touched, new_files, new_stats, new_zones))
            v = real_commit(log, touched, new_files, new_stats, new_zones,
                            base_version, op=op)
            assert self.model(log).commit(*args) == v
            return v

        def restore(log, version, op=None):
            v = real_restore(log, version, op=op)
            assert self.model(log).restore(version) == v
            return v

        def vacuum(log, keep_versions=1):
            removed = real_vacuum(log, keep_versions)
            self.model(log).vacuum(keep_versions)
            return removed

        monkeypatch.setattr(ManifestLog, "commit_bounded", commit_bounded)
        monkeypatch.setattr(ManifestLog, "restore", restore)
        monkeypatch.setattr(ManifestLog, "vacuum", vacuum)

    def model(self, log: ManifestLog) -> ManifestModel:
        return self.models.setdefault(log.table_path, ManifestModel())

    def check(self, log: ManifestLog) -> None:
        """Every retained version of ``log``, read through a cold handle
        (no caches shared with the writer), equals the model's."""
        model = self.model(log)
        cold = ManifestLog(
            log.spark,
            log.table_path,
            checkpoint_interval=log.checkpoint_interval,
            parquet_checkpoint_threshold=log.parquet_checkpoint_threshold,
        )
        assert cold.versions() == model.versions()
        for v in model.versions():
            got = canonical(cold.read(v), cold.read_stats(v), cold.read_zones(v))
            assert got == model.state(v), f"v{v} differs from the model"
