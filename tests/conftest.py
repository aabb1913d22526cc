"""Suite-wide pytest configuration."""


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: end-to-end spark-submit job tests (minutes each)"
    )
