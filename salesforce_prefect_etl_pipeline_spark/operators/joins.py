"""Join-scale utility: skew salting, the knob that matters once a
join's shuffle becomes the bottleneck at 100 TB.

**Salting** (`salted_join`): a hot key (power-law user_id, null-heavy
fk) overloads one reducer. Replicate the build side `salt` ways and
scatter the probe side uniformly; the join key becomes (key, salt), so
the hot key's rows spread over `salt` reducers. AQE's skew-join
splitting handles moderate skew automatically — salting is for the
pathological keys AQE can't split (a single key bigger than an
executor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: probe rows get a uniform salt in
    [0, salt); the (smaller) build side is replicated `salt` times.
    Output columns = probe columns + build columns minus its key.

    `rand`-free: the salt is derived from a hash of the probe row's key
    plus a per-row disambiguator when present — here we use
    monotonically_increasing_id, which is partition-deterministic; for
    bit-reproducible pipelines pass a natural unique column via the
    probe frame beforehand.
    """
    pr = probe.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(key), F.monotonically_increasing_id()), F.lit(salt))
    )
    bd = build.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = pr.join(bd, on=[key, "__salt"], how=how).drop("__salt")
    return out

