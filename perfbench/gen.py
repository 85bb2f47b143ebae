"""Seeded input generator for the graft benchmark.

``panel`` is a pure function of (seed, size): the same arguments write
byte-identical parquet files.  Inputs are written before any timing starts,
so the program under test only ever reads files.  It returns the facts it
planted, which the output checks compare against: N series x 96 monthly
points with a planted seasonal length per series and lag-1 couplings inside
blocks of five series.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEASONAL_LENGTHS = (4, 6, 12, 24)


def _rng(seed, tag):
    # one independent stream per (seed, table): adding a table never shifts
    # the draws of another
    return np.random.Generator(np.random.PCG64([int(seed), sum(map(ord, tag)), len(tag)]))


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # one row group per file, like the repo's test fixtures
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _write_parts(table, path, parts=8):
    """A dataset directory of ``parts`` files, so a scan has one split per
    file rather than one for the whole input."""
    n = table.num_rows
    for k in range(parts):
        lo, hi = n * k // parts, n * (k + 1) // parts
        _write(table.slice(lo, hi - lo), os.path.join(path, f"part-{k:05d}.parquet"))


def panel(seed, out_dir, n_series, n_obs=96):
    """N series x ``n_obs`` monthly points from 2015-01.

    Series ``s`` carries a sinusoid of planted length ``m[s]`` (drawn from
    SEASONAL_LENGTHS) on a positive level, plus the lag-1 coupling of
    BenchScale.syntheticFrame: in every block of five, series 0 is noise and
    the other four follow the block driver's noise one month later with
    strengths +-1.0 / +-0.9.  Returns the planted lengths by series id."""
    r = _rng(seed, "panel")
    m = np.array(SEASONAL_LENGTHS)[r.integers(0, len(SEASONAL_LENGTHS), n_series)]
    phase = r.uniform(0.0, 2 * np.pi, n_series)
    noise = r.uniform(-0.5, 0.5, (n_series, n_obs + 1))
    own = r.uniform(-0.5, 0.5, (n_series, n_obs))
    sid = np.arange(n_series)
    coupling = np.array([0.0, 1.0, -1.0, 0.9, -0.9])[sid % 5]
    driver = sid - sid % 5
    t = np.arange(n_obs)
    y = np.where((sid % 5 == 0)[:, None], noise[:, 1:],
                 coupling[:, None] * noise[driver][:, :-1] + 0.1 * own)
    y = 10.0 + 0.02 * t[None, :] + 1.5 * np.sin(2 * np.pi * t[None, :] / m[:, None]
                                               + phase[:, None]) + y
    months = np.array([np.datetime64("2015-01-01", "M") + k for k in t]).astype("datetime64[D]")
    _write_parts(pa.table({
        "series_id": np.repeat([f"s{i}" for i in sid], n_obs),
        "ds": pa.array(np.tile(months, n_series), pa.date32()),
        "y": np.round(y.reshape(-1), 6),
        "is_future": np.zeros(n_series * n_obs, dtype=bool)}),
        os.path.join(out_dir, "panel.parquet"))
    return {f"s{i}": int(m[i]) for i in sid}
