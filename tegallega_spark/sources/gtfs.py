"""GTFS CSV sink + reader (SURVEY K1, K3, S9).

K1: GTFS requires exact filenames (agency.txt, ...) and a pinned column
order — a single CSV per table (SURVEY §4.2).  Spark writes the table
as (possibly many) part files IN PARALLEL and the driver streams them
into the final .txt in partition order, dropping repeated headers.
Part-file concatenation order equals partition index order, which is
the same order a coalesce(1) would have merged them in, so the output
bytes are identical to a single-file write — but CSV serialization of
a 39 M-row stop_times now uses every core instead of one (r10 verdict
#5: the old coalesce(1) was an unnecessary single-thread funnel).

A feed's tables are independent outputs, so write_gtfs_feed submits
them as concurrent jobs: the small tables' 1-5-task jobs fill the slots
that stop_times and shapes leave idle, and Spark's scheduler interleaves
the rest.  Each table still has its own temp dir and its own ordered
concatenation, so concurrency cannot change a file's bytes.

K3: gtfs.zip packaging for the OTP consumer.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import zipfile
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from tegallega_spark.schemas import GTFS_COLUMNS


def write_gtfs_table(df: DataFrame, name: str, out_dir: str) -> str:
    """Write one GTFS table as {out_dir}/{name}.txt with header and the
    contract column order."""
    cols = GTFS_COLUMNS[name]
    os.makedirs(out_dir, exist_ok=True)
    final = os.path.join(out_dir, f"{name}.txt")
    with tempfile.TemporaryDirectory(dir=out_dir) as tmp:
        spark_out = os.path.join(tmp, "csv")
        df.select(*cols).write.option("header", True).option(
            "emptyValue", ""
        ).mode("overwrite").csv(spark_out)
        parts = sorted(glob.glob(os.path.join(spark_out, "part-*.csv")))
        with open(final, "wb") as out:
            if not parts:
                # a 0-partition frame writes no part file at all; the
                # format still requires the header line
                out.write((",".join(cols) + "\n").encode())
            for i, p in enumerate(parts):
                with open(p, "rb") as f:
                    header = f.readline()
                    if i == 0:
                        out.write(header)
                    # 8 MiB chunks: the default 64 KiB buffer costs ~17×
                    # more syscalls on the GB-scale stop_times concat
                    shutil.copyfileobj(f, out, 8 * 1024 * 1024)
    return final


def write_gtfs_feed(tables: dict[str, DataFrame], out_dir: str) -> list[str]:
    """Write every table with write_gtfs_table, one concurrent job per
    table; returns the paths in `tables` order and raises the first
    table's error (after every other write has finished)."""
    with ThreadPoolExecutor(max_workers=max(1, len(tables))) as ex:
        futures = [ex.submit(write_gtfs_table, df, name, out_dir)
                   for name, df in tables.items()]
        return [f.result() for f in futures]


# Every gtfs.zip entry carries this timestamp and mode instead of its
# file's mtime and permissions, so the zip's bytes depend only on the
# tables: a rebuild that writes the same rows writes the same zip.
_ZIP_DATE_TIME = (1980, 1, 1, 0, 0, 0)
_ZIP_MODE = 0o100644  # regular file, rw-r--r--


def make_gtfs_zip(feed_dir: str, zip_path: str) -> str:
    """Package {feed_dir}/*.txt into a flat gtfs.zip (K3 —
    direct-graphs-generation.yml:92-95), entries in name order with a
    fixed timestamp and mode."""
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for txt in sorted(glob.glob(os.path.join(feed_dir, "*.txt"))):
            info = zipfile.ZipInfo(os.path.basename(txt), _ZIP_DATE_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = _ZIP_MODE << 16
            info.file_size = os.path.getsize(txt)  # picks zip64 when needed
            with open(txt, "rb") as src, z.open(info, "w") as dst:
                shutil.copyfileobj(src, dst, 1 << 20)
    return zip_path


def read_gtfs_table(spark: SparkSession, feed_dir: str, name: str) -> DataFrame:
    """S9: read a GTFS table back with header (schema-on-read strings —
    GTFS consumers treat every field as text)."""
    return spark.read.option("header", True).csv(os.path.join(feed_dir, f"{name}.txt"))