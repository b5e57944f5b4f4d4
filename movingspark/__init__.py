"""movingspark — a from-scratch PySpark-native trajectory analytics engine.

Re-implements the query & data-processing capabilities of MovingPandas
(movingpandas v0.22.4) as stateless DataFrame -> DataFrame transforms:
window algebra for derived columns, `gmap.grouped_apply_sorted` (one
mapInArrow pass over traj_id-partitioned, time-sorted rows) with numpy
kernels on array slices for inherently sequential per-trajectory
algorithms, and a native quadtree cell index for distributed spatial
joins (point-in-polygon, kNN, tiling).

No Trajectory objects, no RDDs, no per-row Python. The canonical data
model is one long DataFrame: (traj_id string, obj_id string,
t timestamp, x double, y double, <attrs...>); a "TrajectoryCollection"
is simply the set of groups under traj_id (SURVEY.md §1.2).
"""

__version__ = "0.1.0"

__all__ = ["__version__"]
