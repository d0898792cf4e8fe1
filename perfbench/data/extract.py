#!/usr/bin/env python3
"""Writes the benchmark's extracts of the sf0.1 test tables (TESTDATA.md),
kept beside this script so a run reads nothing outside its checkout:

* documents.parquet: the sf0.1 `documents` table, every row, as it is;
* lineitem_sample.parquet: a fixed uniform sample of 48,000 of the 600,000
  sf0.1 `lineitem` rows, every column, in the table's row order.

    python3 perfbench/data/extract.py <sf0.1 directory>
"""
import os
import sys

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
LINEITEM_SAMPLE_ROWS = 48000


def main(sf_dir):
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(docs, os.path.join(HERE, "documents.parquet"), compression="zstd")
    lineitem = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"))
    rows = np.sort(np.random.default_rng(7).choice(
        lineitem.num_rows, LINEITEM_SAMPLE_ROWS, replace=False))
    pq.write_table(lineitem.take(rows), os.path.join(HERE, "lineitem_sample.parquet"),
                   compression="zstd")


if __name__ == "__main__":
    main(sys.argv[1])
