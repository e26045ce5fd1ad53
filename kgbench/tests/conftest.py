import os
import sys

# the checkout root, so `kgbench` and `vectrain_spark` import as packages
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: runs the benchmark end to end")
