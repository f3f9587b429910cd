"""Train and export the data-adapted IVF coarse quantizer.

Runs spherical k-means on a seeded hash-sample of the sf0.01 embeddings
table (operators.similarity.train_ivf_centroids) and publishes the
centroids as parquet under data/golden/. The quantizer is a DATA artifact:
the Spark query loads it from this file and the DuckDB oracle replays cell
assignment from the same file — neither side shares quantizer code.

Usage: python tools/train_ivf.py [dim] [n_cells]
"""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    dim = int(sys.argv[1]) if len(sys.argv) > 1 else 64
    n_cells = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    from fineweb_legal_spark.operators.similarity import train_ivf_centroids
    from fineweb_legal_spark.session import get_spark

    spark = get_spark(app_name="train_ivf")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = train_ivf_centroids(emb, dim=dim, n_cells=n_cells)
    out = REPO / "data" / "golden" / f"ivf_trained_dim{dim}_c{n_cells}.parquet"
    pd.DataFrame(
        {
            "cell_idx": range(n_cells),
            "weights": [row.tolist() for row in cents],
        }
    ).to_parquet(out, index=False)
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
