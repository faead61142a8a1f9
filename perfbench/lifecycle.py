"""Daily-lifecycle inputs and the reference model that checks them.

`generate(seed)` makes the staged weather batches one run feeds through the
engine: each batch is one day's 14-day forecast window per known city, so
consecutive batches overlap and the fact MERGE updates as well as inserts.
The batches carry the reference pipeline's quirks: duplicate (city, date)
rows, NULL temperatures, outliers, cities that first arrive late, and one
batch delivered twice.

`Model` recomputes the whole lifecycle from the staged rows in exact
decimal arithmetic, following `graft.pipeline.WeatherEtl` stage by stage:
staging dedup, per-(city, month) imputation, per-city z-score capping,
dimension insert-new, fact upsert. The benchmark compares the engine's
committed fact after every batch, and its final fact and dimension row by
row, against this model.
"""
import datetime
import os
import random
import statistics
from decimal import Decimal, ROUND_HALF_UP, localcontext

CITIES = 240
WINDOW = range(-6, 8)           # forecast days around the day it is made
START = datetime.date(2024, 3, 10)
EPOCH = datetime.date(1970, 1, 1)
CENT = Decimal("0.01")
MICRO = Decimal("0.000001")


def _avg(values):
    """Spark's avg over decimal(5,2): exact quotient rounded HALF_UP to
    decimal(9,6); None when every value is NULL."""
    xs = [v for v in values if v is not None]
    if not xs:
        return None
    with localcontext() as ctx:
        ctx.prec = 60
        return (sum(xs) / Decimal(len(xs))).quantize(MICRO, rounding=ROUND_HALF_UP)


def _to_cents(d):
    return None if d is None else d.quantize(CENT, rounding=ROUND_HALF_UP)


def clean(rows):
    """dedupStaging → imputeMissing → capOutliers on one staged batch.
    Rows are (city, date, tmax, tmin, precip); returns the cleaned rows and
    the z-scores that were compared against the 3.0 threshold."""
    best = {}
    def rank(r):
        # desc nulls last on (temp_max, temp_min, precipitation)
        return tuple((v is not None, v if v is not None else 0) for v in r[2:5])
    for r in rows:
        k = (r[0], r[1])
        if k not in best or rank(r) > rank(best[k]):
            best[k] = r
    rows = list(best.values())

    groups = {}
    for r in rows:
        groups.setdefault((r[0], r[1].month), []).append(r)
    means = {g: (_avg([r[2] for r in rs]), _avg([r[3] for r in rs])) for g, rs in groups.items()}
    imputed = []
    for r in rows:
        if r[2] is None or r[3] is None:
            mx, mn = means[(r[0], r[1].month)]
            r = (r[0], r[1], _to_cents(mx), _to_cents(mn), r[4])
        imputed.append(r)

    by_city = {}
    for r in imputed:
        by_city.setdefault(r[0], []).append(r)
    zs = []
    out = []
    for city, rs in by_city.items():
        xs = [r[2] for r in rs if r[2] is not None]
        mu = _avg(xs)
        sigma = statistics.stdev([float(x) for x in xs]) if len(xs) >= 2 else None
        for r in rs:
            if sigma is None or sigma == 0.0:
                keep = True
            elif r[2] is None:
                keep = None
            else:
                z = float(abs(r[2] - mu)) / sigma
                zs.append(z)
                keep = z <= 3.0
            if not keep:
                r = (r[0], r[1], _to_cents(mu), r[3], r[4])
            out.append(r)
    return out, zs


class Model:
    """The warehouse state a correct engine holds after each batch."""

    def __init__(self):
        self.dim = {}            # city_name -> city_id
        self.fact = {}           # (city_id, date) -> (tmax, tmin, precip)

    def apply(self, rows):
        cleaned, _ = clean(rows)
        new = sorted({r[0] for r in cleaned} - set(self.dim))
        top = max(self.dim.values(), default=0)
        for i, name in enumerate(new):
            self.dim[name] = top + 1 + i
        for city, date, tmax, tmin, precip in cleaned:
            k = (self.dim[city], date)
            old = self.fact.get(k)
            vals = (tmax, tmin, precip)
            if old is not None:
                vals = tuple(s if s is not None else t for s, t in zip(vals, old))
            self.fact[k] = vals

    def moments(self):
        """Row count and the four integer sums `Lifecycle.factMoments`
        computes over the committed fact."""
        s = [0, 0, 0, 0]
        for (cid, date), vals in self.fact.items():
            key = cid * 100000 + (date - EPOCH).days
            s[0] += key
            for i, (m, v) in enumerate(zip((9973, 9967, 9949), vals)):
                s[i + 1] += (key % m) * (77777 if v is None else int(v * 100))
        return {"n": len(self.fact), "s1": s[0], "s2": s[1], "s3": s[2], "s4": s[3]}


def _dec(x):
    return Decimal(repr(round(x, 2))).quantize(CENT, rounding=ROUND_HALF_UP)


def generate(seed, n_batches):
    """`n_batches` staged batches for one seed, each a list of rows. Retries a
    batch (with a fresh draw) in the rare case a z-score lands within 1e-6
    of the 3.0 cap, where double rounding could decide the outcome."""
    rng = random.Random(seed)
    names = [f"city_{i:04d}" for i in rng.sample(range(10000), CITIES)]
    arrival = {n: (1 if rng.random() < 0.7 else rng.randint(2, n_batches)) for n in names}
    climate = {n: (rng.uniform(-5.0, 28.0), rng.uniform(0.05, 0.4)) for n in names}
    redelivered = rng.randint(3, n_batches)
    batches = []
    for b in range(1, n_batches + 1):
        if b == redelivered:
            batches.append(list(batches[-1]))
            continue
        made = START + datetime.timedelta(days=b)
        while True:
            rows = []
            for n in names:
                if arrival[n] > b:
                    continue
                base, trend = climate[n]
                outlier_day = rng.choice(list(WINDOW)) if rng.random() < 0.08 else None
                for off in WINDOW:
                    date = made + datetime.timedelta(days=off)
                    day = (date - START).days
                    tmax = base + trend * day + rng.gauss(0.0, 1.5 + 0.15 * abs(off))
                    if off == outlier_day:
                        tmax += rng.choice((-1, 1)) * rng.uniform(40.0, 60.0)
                    tmin = tmax - rng.uniform(3.0, 12.0)
                    precip = max(0.0, rng.gauss(1.5, 3.0))
                    row = [n, date, _dec(tmax), _dec(tmin), _dec(precip)]
                    u = rng.random()
                    if u < 0.015:
                        row[2] = None
                    elif u < 0.03:
                        row[3] = None
                    rows.append(tuple(row))
                    v = rng.random()
                    if v < 0.02:
                        rows.append(tuple(row))
                    elif v < 0.04 and row[2] is not None:
                        rows.append((n, date, row[2] - Decimal("0.50"), row[3], row[4]))
            rng.shuffle(rows)
            if all(abs(z - 3.0) > 1e-6 for z in clean(rows)[1]):
                break
        batches.append(rows)
    return batches


def write_batches(batches, out_dir):
    """One parquet file per batch in the staging schema of WeatherEtl.
    Returns the total bytes written (the staged input size)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    schema = pa.schema([("city_name", pa.string()), ("date", pa.date32()),
                        ("temp_max", pa.decimal128(5, 2)), ("temp_min", pa.decimal128(5, 2)),
                        ("precipitation", pa.decimal128(5, 2)), ("is_processed", pa.bool_())])
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for i, rows in enumerate(batches, 1):
        cols = list(zip(*rows))
        table = pa.table([list(cols[0]), list(cols[1]), list(cols[2]), list(cols[3]),
                          list(cols[4]), [False] * len(rows)], schema=schema)
        path = os.path.join(out_dir, f"batch_{i:03d}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


def expected_stream(batches):
    """The model's fact moments after every batch, and the final model."""
    m = Model()
    moments = []
    for rows in batches:
        m.apply(rows)
        moments.append(m.moments())
    return moments, m
