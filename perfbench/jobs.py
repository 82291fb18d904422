"""The benchmark's job mixes, built only from the program's public API.

Each job has three parts:
  build(spark, data_dir)      the operator call; returns the lazy DataFrame
  sink(df, out_dir)           the timed action that forces it through the
                              workload's sink; returns what result() reads
  result(df, sunk, out_dir)   -> (cols, rows, date_cols), untimed, for the
                              digest of this execution
mr_text jobs take the CLI's path (read_text -> Pipeline -> tokenize_words
-> reduce -> sort -> write_formatted_text) and are checked by reading the
file they wrote back. Registry jobs are sunk with toPandas, the fetch path
tools/verify_local.py hashes: their results are at most a few hundred
rows, so the collect costs what a noop sink would, and every execution
can be checked.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TEXT_FILE = "corpus.txt"


@dataclass(frozen=True)
class Job:
    name: str
    build: Callable
    sink: Callable
    result: Callable


def _date_cols(df: DataFrame) -> frozenset[str]:
    from pyspark.sql.types import DateType

    return frozenset(f.name for f in df.schema.fields if isinstance(f.dataType, DateType))


def _collect(df: DataFrame, out_dir: str):
    return df.toPandas()


def _collected_rows(df: DataFrame, pdf, out_dir: str):
    from perfbench.digest import verify_local

    return df.columns, verify_local()._pd_rows(pdf), _date_cols(df)


def _registry_job(name: str) -> Job:
    from mapreduce_sm_spark.registry import load_all_operators

    return Job(name, load_all_operators().all()[name].fn, _collect, _collected_rows)


# --- mr_text: the paper's two jobs through the CLI's public path ----------


def wordcount_df(spark, data_dir: str) -> DataFrame:
    from mapreduce_sm_spark.functions.text import tokenize_words
    from mapreduce_sm_spark.plans import Pipeline, SortSpec
    from mapreduce_sm_spark.sources.readers import read_text

    path = os.path.join(data_dir, TEXT_FILE)
    return (
        Pipeline(lambda: read_text(spark, path))
        .map(lambda d: d.select(F.explode(tokenize_words("value")).alias("word")))
        .reduce(["word"], [F.count("*").alias("cnt")])
        .sort(SortSpec("cnt", ascending=False), SortSpec("word", ascending=True))
        .to_df()
    )


def string_match_df(spark, data_dir: str) -> DataFrame:
    from mapreduce_sm_spark.operators.string_match import SEARCH_WORD
    from mapreduce_sm_spark.plans import Pipeline, SortSpec
    from mapreduce_sm_spark.sources.readers import read_text

    path = os.path.join(data_dir, TEXT_FILE)
    return (
        Pipeline(lambda: read_text(spark, path, with_line_numbers=True))
        .map(lambda d: d.filter(F.contains(F.lower(F.col("value")), F.lit(SEARCH_WORD))))
        .sort(SortSpec("line_no", ascending=True))
        .to_df()
    )


def _text_sink(name: str, fmt: str, cols: list[str]) -> Callable:
    def sink(df: DataFrame, out_dir: str) -> None:
        from mapreduce_sm_spark.sources.sinks import write_formatted_text

        write_formatted_text(df, fmt, cols, os.path.join(out_dir, name), single_file=True)

    return sink


def read_sink_lines(out_dir: str, name: str) -> list[str]:
    lines: list[str] = []
    for part in sorted(glob.glob(os.path.join(out_dir, name, "part-*"))):
        with open(part, encoding="utf-8") as fh:
            lines.extend(fh.read().splitlines())
    return lines


def _text_job(name: str, build: Callable, fmt: str, cols: list[str],
              parse: Callable[[str], tuple], out_cols: list[str]) -> Job:
    def result(df, sunk, out_dir):
        return out_cols, [parse(line) for line in read_sink_lines(out_dir, name)], frozenset()

    return Job(name, build, _text_sink(name, fmt, cols), result)


def _parse_wordcount(line: str) -> tuple:
    word, cnt = line.rsplit("\t", 1)
    return word, int(cnt)


def _parse_string_match(line: str) -> tuple:
    no, text = line.split(":", 1)
    return int(no), text


def make_jobs(names: list[str]) -> dict[str, Job]:
    text_jobs = {
        # column names follow the registry oracles' output columns
        "wordcount": _text_job("wordcount", wordcount_df, "%s\t%d", ["word", "cnt"],
                               _parse_wordcount, ["word", "cnt"]),
        "string_match": _text_job("string_match", string_match_df, "%d:%s",
                                  ["line_no", "value"], _parse_string_match,
                                  ["line_no", "line"]),
    }
    return {n: text_jobs[n] if n in text_jobs else _registry_job(n) for n in names}
