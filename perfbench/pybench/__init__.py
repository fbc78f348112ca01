"""Input generators and output checks of the graft benchmark."""
