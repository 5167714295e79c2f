"""Closed-loop benchmark of the task-grid engine; see README.md."""
