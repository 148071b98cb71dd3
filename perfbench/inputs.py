"""Seeded benchmark inputs: fixtures from ``fixtures.generate`` plus cached
DuckDB oracle answers, both keyed by seed under the benchmark's work dir.

Nothing here is timed. The first run of a seed pays fixture generation
(about 6 s at sf0.01) and the oracles it needs; later runs of that seed
reuse the cache.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import pyarrow.parquet as pq

# Tables the fixture generator writes that no workload reads but that cost
# most of its time: the encoded image payloads (4000 PNG/QNT blobs with
# perceptual hashes, ~30 s). ``image_geo`` is drawn from the same RNG stream
# *before* the payloads, so capping the payload rows leaves every table the
# workloads read byte-identical.
IMAGE_PAYLOAD_ROWS = 1


@dataclass(frozen=True)
class Inputs:
    seed: int
    sf: str
    fixture_dir: str
    oracle_dir: str

    @property
    def sf_dir(self) -> str:
        """The ``sf_dir`` argument of ``queries.QUERIES[name]``; the registry
        maps it onto ``fixture_dir`` through ``BUTTERFLY_FIXTURE_DIR``."""
        return f"sf{self.sf}"

    def table_rows(self, table: str) -> int:
        return pq.ParquetFile(os.path.join(self.fixture_dir, f"{table}.parquet")).metadata.num_rows

    def oracle(self, name: str):
        """The oracle answer of query ``name`` as a pyarrow Table (cached)."""
        import duckdb

        from butterfly_osm_spark.queries import ORACLES

        sql = ORACLES[name](self.sf)
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(self.oracle_dir, f"{name}-{key}.parquet")
        if not os.path.exists(path):
            table = duckdb.sql(sql).arrow()
            tmp = f"{path}.tmp-{os.getpid()}"
            pq.write_table(table, tmp)
            os.replace(tmp, path)
        return pq.read_table(path)


def fixture_root(work_dir: str, seed: int) -> str:
    """Value for ``BUTTERFLY_FIXTURE_DIR``: must be set before the engine's
    query registry resolves a fixture dir."""
    return os.path.join(work_dir, "inputs", f"seed{seed}")


def prepare(work_dir: str, seed: int, sf: str) -> Inputs:
    """Generate (once) the seed's fixtures at scale factor ``sf``."""
    from butterfly_osm_spark.fixtures import generate

    root = fixture_root(work_dir, seed)
    if os.environ.get("BUTTERFLY_FIXTURE_DIR") != root:
        raise RuntimeError("BUTTERFLY_FIXTURE_DIR must point at the seed's fixture root")
    # generate() reads both module constants at call time
    generate.SEED = seed
    generate.IMG_BYTES_CAP = IMAGE_PAYLOAD_ROWS
    fix = generate.ensure_fixtures(sf)
    oracle_dir = os.path.join(root, f"oracles-sf{sf}-v{generate.FIXTURE_VERSION}")
    os.makedirs(oracle_dir, exist_ok=True)
    return Inputs(seed=seed, sf=sf, fixture_dir=fix, oracle_dir=oracle_dir)
