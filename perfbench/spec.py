"""Workload sizes, grids and calibration constants shared by the generator
(``gen.py``) and the benchmark (``run.py``). Changing any value here changes
the benchmark; see README.md for why each size was chosen."""

# workload -> its op groups, in cycle order
WORKLOADS = {
    "event_pipeline": ("hdf5_convert", "calib_coarse", "fine_rebin"),
    "graph_iterate": ("graph_iterate",),
}

WHY = {
    "event_pipeline": "the paper's pipeline: hdf5 ingest, per-row calibration and N-D "
    "binning to a dense grid; every engine layer but analysis.graph",
    "graph_iterate": "analysis.graph iteration family, bound by driver orchestration "
    "(many small jobs per query); bypasses every event-pipeline layer",
}

# (untimed warm-up cycles, least timed cycles) per run. The event ops' walls
# are flat after each op's first execution. The driver-bound graph ops' still
# fall by a third from the second execution to the fourth; the median of
# three timed cycles is the third, the same point in every run.
CYCLES = {"event_pipeline": (1, 2), "graph_iterate": (1, 3)}

# Event tables are written as this many parquet files: a file is one scan
# task, so fewer files than cores would leave cores idle.
EVENT_FILES = 8

# -- calib_coarse ---------------------------------------------------------------
CALIB_EVENTS = 100_000
TPS_LANDMARKS = 8  # centre + 7 on a ring, as in a symmetry-point momentum correction
DFIELD_SIZE = 256  # inverse deformation field on the 8x-binned detector image
CALIB_PARAMS = {
    # open ToF window applied before calibration (apply_filter)
    "t_window": [66000.0, 80000.0],
    # E = ((c2 * t) + c1) * t + e0, Horner order as in tof2ev_poly_expr;
    # maps t 68000 -> ~2 eV and 74000 -> ~-6 eV
    "e_poly": [-2.0e-10, -1.3049333333333333e-03],
    "e0": 91.66,
    # k = f * (pixel - centre)
    "k_axis": [1024.0, 1024.0, 1.0 / 450.0, 1.0 / 450.0],
    "grid": [[64, -2.0, 2.0], [64, -2.0, 2.0], [64, -6.0, 2.0]],
    "dfield_scale": 2048 / DFIELD_SIZE,
}
CALIB_OPS = ("none", "tps", "dfield")

# -- fine_rebin -----------------------------------------------------------------
FINE_EVENTS = 600_000
FINE_GRIDS = {
    "g512x512x50": [(512, 0.0, 2047.0), (512, 0.0, 2047.0), (50, 69000.0, 70000.0)],
    "g300x300x500": [(300, 0.0, 2047.0), (300, 0.0, 2047.0), (500, 65000.0, 100000.0)],
}

# -- hdf5_convert ---------------------------------------------------------------
HDF5_FILES = 16
HDF5_EVENTS_PER_FILE = 12_500
HDF5_GRID = [(256, 0.0, 2048.0), (256, 0.0, 2048.0)]

# -- graph_iterate --------------------------------------------------------------
GRAPH_SF = 0.01
GRAPH_TABLE_SEED = 42
# pagerank runs first in every cycle; the seed orders the other two
GRAPH_OPS = ("pagerank_custsupp", "label_communities", "kcore_copurchase")

# Lowest share of input rows an op's histogram must hold; an empty or
# nearly empty grid fails the op even if it matches a broken reference.
MIN_IN_GRID_SHARE = {
    "calib_coarse": 0.2,
    "fine_rebin": 0.1,
    "hdf5_convert": 0.9,
}
# L1 distance allowed between a calibrated-axis histogram and its numpy
# reference, as a share of the input rows: JVM and numpy ``log`` may differ
# by an ulp, which can move an event that sits on a bin edge.
CALIB_L1_TOL = 2e-5
