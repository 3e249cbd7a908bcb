import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "parity: queries() entries checked against oracle_sql() "
        "on DuckDB (slow; deselect with -m 'not parity')")
