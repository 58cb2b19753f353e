"""spark-submit entry point mirroring the reference CLI (main.rs:13-79).

Flag parity:
  -w/--window_size  window size in UTF-8 bytes (default 1000, main.rs:28-35);
                    also applies under --streaming
  -s/--step         step size (sliding windows; tumbling when omitted —
                    generalizes the reference's tumbling-only -w)
  -m/--masked       masked-mode counting (seq_statsu8.rs:50-58); under -e,
                    the 6-bin entropy counts only uppercase ACGTN
                    (entropy.rs:49-57)
  -d/--description  include the description column (fw.rs:235-240)
  -c/--ctw          compute CTW bits/base (fw.rs:91-95, expensive)
  -e/--entropy      entropy-only fast mode -> BED output (entropy.rs:86)
  --streaming       consume the input directory as a stream: -w byte
                    windows per page -> watermarked 10-minute (window,
                    host) counts in bytes -> exactly-once sink
                    (streaming/pipeline.host_window_stats); -s, -m, -d,
                    -c, -e, --id-col and --text-col do not apply and are
                    refused (exit 2)

Usage (local):  python -m fasta_windows_spark.cli -f pages_parquet_dir -o out
Cluster:        spark-submit --py-files fasta_windows_spark.zip \
                    -m fasta_windows_spark.cli -f s3://..../pages -o out
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser("fasta_windows_spark")
    p.add_argument("-f", "--input", required=True, help="parquet path (pages/documents schema)")
    p.add_argument("-o", "--output", required=True, help="output name (files under ./fw_out/)")
    p.add_argument("-w", "--window_size", type=int, default=1000)
    p.add_argument("-s", "--step", type=int, default=None)
    p.add_argument("-m", "--masked", action="store_true")
    p.add_argument("-d", "--description", action="store_true")
    p.add_argument("-c", "--ctw", action="store_true")
    p.add_argument("-e", "--entropy", action="store_true")
    p.add_argument("--id-col", default=None, help="id column (default: url or doc_id)")
    p.add_argument("--text-col", default="text")
    p.add_argument("--out-dir", default="./fw_out")
    p.add_argument("--streaming", action="store_true")
    p.add_argument(
        "--salt-buckets",
        type=int,
        default=0,
        help="streaming mode: salt the host-window aggregation across N "
        "state keys per host (hot-host skew; 0 = unsalted)",
    )
    p.add_argument(
        "--format",
        default=None,
        choices=["parquet", "fasta", "warc"],
        help="input format (default: by extension — .fa/.fasta/.fna[.gz] "
        "reads as FASTA, .warc[.gz] as WARC, else parquet)",
    )
    p.add_argument("--master", default=None)
    return p


_FASTA_EXTS = (".fa", ".fasta", ".fna", ".fa.gz", ".fasta.gz", ".fna.gz")


def _input_format(args) -> str:
    if args.format:
        return args.format
    low = args.input.lower()
    if low.endswith(_FASTA_EXTS):
        return "fasta"
    if low.endswith((".warc", ".warc.gz")):
        return "warc"
    return "parquet"


def sorted_by_id(df, id_col: str, frame_fn):
    """``frame_fn(pages)``'s window rows in (id, w_start) order, partition
    by partition, with the window kernel run once.

    ``repartitionByRange(id_col)`` puts every page of one id in one
    partition and orders the partitions by id, so sorting the windows
    within each partition gives exactly ``orderBy(id, w_start)``. Its range
    sample reads pages from the scan; an ``orderBy`` over the kernel's
    output instead samples that output in a job of its own, running the
    kernel twice."""
    return frame_fn(df.repartitionByRange(id_col)).sortWithinPartitions(
        id_col, "w_start"
    )


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    from pyspark.sql import SparkSession

    from .session import get_spark

    if args.streaming:
        # the streaming path re-reads the input as a parquet pages stream
        # and counts tumbling -w windows of `text` per host; a format or a
        # flag it would silently ignore is refused instead
        if _input_format(args) in ("fasta", "warc"):
            print(
                "error: --streaming supports only the parquet pages schema "
                f"({_input_format(args).upper()} input is batch-only; convert "
                "to parquet pages first)",
                file=sys.stderr,
            )
            return 2
        ignored = [flag for flag, given in (
            ("-s", args.step is not None), ("-m", args.masked),
            ("-d", args.description), ("-c", args.ctw), ("-e", args.entropy),
            ("--id-col", args.id_col is not None),
            ("--text-col", args.text_col != "text"),
        ) if given]
        if ignored:
            print(
                "error: --streaming counts tumbling -w windows of the pages' "
                f"text per host; it does not take {', '.join(ignored)}",
                file=sys.stderr,
            )
            return 2

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name="fasta-windows-spark-cli", master=args.master)
    try:
        if _input_format(args) == "fasta":
            # the reference's native input (fw.rs:46-60): FASTA records as
            # (doc_id=seq_id, description, text=seq)
            from .sources.fasta import fasta_as_documents

            df = fasta_as_documents(spark, args.input)
        elif _input_format(args) == "warc":
            # crawl-native input: WARC responses -> pages (url, text) so the
            # window kernels run on the extracted page text
            from .sources.warc import read_warc, warc_to_pages

            df = warc_to_pages(read_warc(spark, args.input))
        else:
            df = spark.read.parquet(args.input)
        id_col = args.id_col or ("url" if "url" in df.columns else "doc_id")

        if args.streaming:
            from .streaming import pipeline as S

            stream = S.read_pages_stream(spark, args.input)
            if args.salt_buckets > 0:
                agg = S.host_window_stats_salted(
                    stream,
                    salt_buckets=args.salt_buckets,
                    window_bytes=args.window_size,
                )
            else:
                agg = S.host_window_stats(stream, window_bytes=args.window_size)
            q = S.write_exactly_once(
                agg,
                f"{args.out_dir}/{args.output}_host_windows",
                f"{args.out_dir}/{args.output}_ckpt",
            )
            q.awaitTermination()
            print(f"[+]\tStreaming output: {args.out_dir}/{args.output}_host_windows")
            return 0

        # Export model (both modes): range-partition the PAGES by id, run
        # the kernel, sort windows within partitions — the reference's
        # post-channel (id, start) sort, fw.rs:149-152, with the kernel run
        # once (sorted_by_id) — then stream the partitions in order through
        # toLocalIterator into the writers. Driver memory holds ONE
        # partition at a time, never the whole result (a 100 TB corpus'
        # window table would OOM any collect); the default mode's TSV text
        # is formatted from Arrow on the executors.
        from .functions.udfs import window_stats

        if args.entropy:
            # fast path: entropy + CTW only (main.rs:90-95, entropy.rs:86-156)
            from .sink_tsv import write_entropy_bed

            got = sorted_by_id(df, id_col, lambda d: window_stats(
                d, text_col=args.text_col, id_cols=[id_col],
                window=args.window_size, step=args.step, masked=args.masked,
                fields=["entropy6"], with_ctw=True,
            ))
            rows = (
                dict(id=r[id_col], start=r["w_start"], end=r["w_end"],
                     entropy=r["entropy6"], ctw=r["ctw"])
                for r in got.toLocalIterator(prefetchPartitions=True)
            )
            path = write_entropy_bed(rows, args.out_dir, args.output)
            print(f"[+]\tOutput written to: {path}")
            return 0

        from .sink_tsv import DESC_COL, export_reference_tsvs

        # -d carries the FASTA description through the kernel; inputs
        # without one print "No description." (fw.rs:98-101)
        id_cols = [id_col]
        if args.description and DESC_COL in df.columns:
            id_cols.append(DESC_COL)
        ws = sorted_by_id(df, id_col, lambda d: window_stats(
            d,
            text_col=args.text_col,
            id_cols=id_cols,
            window=args.window_size,
            step=args.step,
            masked=args.masked,
            with_ctw=args.ctw,
            with_vectors=True,
            f32=True,
        ))
        paths = export_reference_tsvs(
            ws, id_col, args.out_dir, args.output,
            description=args.description, ctw=args.ctw,
        )
        print(f"[+]\tOutput written to directory: {args.out_dir}")
        for p in paths.values():
            print(f"[+]\t  {p}")
        return 0
    finally:
        if owns_session:  # don't tear down a session we merely joined
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
