import pytest


@pytest.fixture(scope="session")
def spark():
    from demeton_spark.session import build_session

    spark = build_session(
        app_name="demeton-tests",
        master="local[4]",
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield spark
    spark.stop()
