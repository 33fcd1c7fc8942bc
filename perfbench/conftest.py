def pytest_configure(config):
    config.addinivalue_line("markers", "smoke: runs the benchmark itself for a few seconds")
