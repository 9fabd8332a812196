"""Order statistics the benchmark reports: median, interquartile mean,
quartiles, spread.

`quartiles` uses the same "exclusive" method as
`statistics.quantiles(values, n=4)`, so a spread computed here matches
one computed with the standard library.
"""


def median(values):
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no values")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def iqm(values):
    """Interquartile mean: the mean of the sorted values left after
    dropping the lowest and the highest quarter (n // 4 values each)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("iqm of no values")
    k = len(xs) // 4
    mid = xs[k:len(xs) - k]
    return sum(mid) / len(mid)


def quartiles(values):
    """(q1, q2, q3): the cut points at positions i * (len + 1) / 4 of the
    sorted values, linearly interpolated (extrapolated at the ends of
    very short lists, as the standard library does)."""
    xs = sorted(values)
    ld = len(xs)
    if ld < 2:
        raise ValueError("quartiles need at least two values")
    m = ld + 1
    cuts = []
    for i in (1, 2, 3):
        j = min(max(i * m // 4, 1), ld - 1)
        delta = i * m - j * 4
        cuts.append((xs[j - 1] * (4 - delta) + xs[j] * delta) / 4)
    return tuple(cuts)


def spread(values):
    """Inter-quartile range as a share of the median."""
    q1, _, q3 = quartiles(values)
    return (q3 - q1) / median(values)
