import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from geomesa_spark.sources import images
from perfbench import inputs

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_child_process_writes_the_aggregate_and_prints_the_layers(tmp_path):
    base = inputs.id_base("tile_render", 3)
    rows = images.generate_batch(np.arange(base, base + 200))
    table = tmp_path / "images"
    table.mkdir()
    pq.write_table(pa.Table.from_pandas(rows, preserve_index=False),
                   table / "part-00000.parquet", row_group_size=100)
    out = tmp_path / "agg.parquet"
    env = dict(os.environ, PYTHONPATH=ROOT)
    proc = subprocess.run(
        [sys.executable, "-m", "perfbench.tile_reference", str(table), "14", "20", str(out)],
        stdout=subprocess.PIPE, text=True, check=True, env=env,
    )
    layer = json.loads(proc.stdout.splitlines()[-1])
    assert layer["sources.parquet_scan.splits"] == 2.0
    agg = pd.read_parquet(out)
    assert list(agg.columns) == ["tile_cell", "weight_sum", "n"]
    assert agg["n"].sum() == layer["sources.parquet_scan.tile_rows_out"] > 0
