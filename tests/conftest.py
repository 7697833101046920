import os
import sys

import pytest
from hypothesis import settings

# Property tests draw the same examples every run: tier-1 stays
# deterministic, and a loaded machine cannot trip a per-example deadline.
settings.register_profile("deterministic", derandomize=True, deadline=None)
settings.load_profile("deterministic")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from correctocr_spark.spark.session import get_spark

    spark = get_spark(app_name="correctocr-tests", cores=4, shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def mini_hmm():
    """The reference's test model fixture (cocrtests/model.py:10-33)."""
    from correctocr_spark.kernels import build_hmm_params

    gold_words = ["String", "Stræng"]
    dictionary = set(gold_words)
    read_counts = {
        "S": {"S": 1000},
        "t": {"t": 999, "l": 1},
        "r": {"r": 1000},
        "i": {"i": 1000},
        "æ": {"æ": 1000},
        "n": {"n": 1000},
        "g": {"g": 1000},
        "-": {"-": 1000},
        "\xad": {"\xad": 1000},
        "(": {")": 1000},
    }
    return build_hmm_params(
        dictionary,
        0.0001,
        "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz()-\xad",
        read_counts,
        [],
        gold_words,
    )
